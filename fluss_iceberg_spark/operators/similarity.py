"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact cosine top-k — queries are broadcast, the
  vector table is scanned once, per-partition heaps via window ranking.
  The baseline and the oracle-able form.
- ``lsh_topk``: random-hyperplane LSH — deterministic ±1 planes, vectors
  bucketed by sign pattern; probing is restricted to the query's bucket
  (multi-probe: optional Hamming-1 neighbors). The 100 TB scale path: the
  bucket join replaces the n×q cross product; recall is tunable via
  n_planes/probes. Approximate → rows-only gate + recall unit test.

All vector math is JVM-side (zip_with/aggregate folds) — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fluss_iceberg_spark.operators.dedup import dot_expanded, vec_norm
from fluss_iceberg_spark.operators.util import materialized


def _as_double(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry: tuple = (),
):
    """Project to (vec_id, v: array<double>, nrm[, *carry]) — norms
    precomputed once per vector so the O(n·q) pair loop only pays one dot
    product; ``carry`` names metadata columns kept alongside the vector
    (filtered search). ``spread()`` first: the downstream dot-product
    loops inherit the scan's partitioning, and a single-split embedding
    file would otherwise run them on one core (no-op on a well-split
    input)."""
    from fluss_iceberg_spark.operators.util import spread

    emb = spread(emb)
    return emb.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        *[F.col(c) for c in carry],
    ).withColumn("nrm", vec_norm(F.col("v")))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    match_cols: list | None = None,
) -> DataFrame:
    """Exact cosine top-k per query. ``queries``/(``vectors``): DataFrames
    with (vec_id, embedding). Rank ties broken by neighbor id —
    deterministic across engines.

    ``match_cols`` is the filtered-vector-search form (every vector store's
    "search within my tenant/category"): each query only scores neighbors
    whose metadata columns EQUAL its own. The filter rides the broadcast-
    join condition, so non-matching vectors are dropped at the scan side
    BEFORE the dot product is paid — at 100 TB the cost is
    O(matching vectors), not O(corpus)."""
    match_cols = list(match_cols or ())
    v = _as_double(vectors, carry=tuple(match_cols)).select(
        F.col("vec_id").alias("nn_id"),
        F.col("v").alias("vv"),
        F.col("nrm").alias("nv"),
        *[F.col(c).alias(f"nn_{c}") for c in match_cols],
    )
    q = _as_double(queries, carry=tuple(match_cols)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("nq"),
        *[F.col(c).alias(f"q_{c}") for c in match_cols],
    )
    cond = F.col("nn_id") != F.col("query_id")
    for c in match_cols:
        cond = cond & (F.col(f"nn_{c}") == F.col(f"q_{c}"))
    scored = (
        v.join(F.broadcast(q), cond)
        .withColumn(
            "cos",
            F.round(
                dot_expanded(F.col("qv"), F.col("vv"), dim) / (F.col("nq") * F.col("nv")), 4
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nn_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nn_id", F.col("cos").alias("cosine"), "rank")
    )


def _centroids_df(spark, model: list) -> DataFrame:
    """Materialize the K*dim centroid model as a tiny literal DataFrame
    (cid, cv, cn) - truncates the Lloyd-loop lineage so downstream
    assignments never recompute previous iterations."""
    from fluss_iceberg_spark.operators.util import arrow_local_df

    # Arrow local frame (guide §6): the model is broadcast-joined by every
    # assignment pass — as a pickled RDD each pass re-pays Python workers
    return arrow_local_df(
        spark,
        [(int(cid), [float(x) for x in cv], float(cn)) for cid, cv, cn in model],
        "cid long, cv array<double>, cn double",
    )


def _centroid_arrays(cent, dim: int):
    """(cids, C, cns) numpy views of a centroid model, sorted by cid
    ascending so first-occurrence argmax == lowest-cid tie-break.
    ``cent`` is either a [(cid, cv, cn)] list or a (cid, cv, cn)
    DataFrame (constant-size model — the collect is a K-row action)."""
    import numpy as np

    if isinstance(cent, DataFrame):
        rows = [(r[0], r[1], r[2]) for r in cent.select("cid", "cv", "cn").collect()]
    else:
        rows = list(cent)
    rows.sort(key=lambda r: int(r[0]))
    cids = np.array([int(r[0]) for r in rows], dtype=np.int64)
    C = np.array([[float(x) for x in r[1]][:dim] for r in rows], dtype=np.float64)
    cns = np.array([float(r[2]) for r in rows], dtype=np.float64)
    return cids, C, cns


def _centroid_cosines_np(V, nrm, C, cns):
    """numpy replay of the former per-pair Catalyst expression
    ``dot_expanded(v, cv, dim) / (nrm * cn)`` — bit-for-bit: the dot is
    the same left-assoc sequential fold over components (one IEEE mul +
    add per step, accumulated j=0..dim-1), the denominator the same
    single mul, then one divide. Returns the (n, K) score matrix."""
    import numpy as np

    S = np.zeros((V.shape[0], C.shape[0]))
    for j in range(C.shape[1]):
        S += V[:, j, None] * C[None, :, j]
    with np.errstate(divide="ignore", invalid="ignore"):
        S /= nrm[:, None] * cns[None, :]
    return S


def _rank_key_np(S):
    """Spark orders doubles DESC with NaN greatest; numpy argmax/argsort
    would put NaN last. NaN → +inf replays the ordering (a true +inf
    score can't arise: unit-scale embeddings can't overflow, and a zero
    denominator zeroes the dot too, giving NaN not inf)."""
    import numpy as np

    return np.where(np.isnan(S), np.inf, S)


def _assign_clusters(v: DataFrame, cent, dim: int, top_n: int = 1):
    """Assign each vector to its top_n nearest centroids by cosine —
    map-only: the K·dim model rides the kernel closure and each scan
    partition computes its own argmax, so there is NO K× row expansion
    and NO exchange (the former crossJoin(broadcast)+row_number window
    shuffled |v|·K vector-carrying rows just to take a per-vec_id top-n).
    Scores replay the old expression bit-for-bit (_centroid_cosines_np);
    ties break to the lowest cid exactly as desc(ccos)/asc(cid) did.
    ``cent``: [(cid, cv, cn)] list or equivalent DataFrame."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    cids, C, cns = _centroid_arrays(cent, dim)

    if top_n <= 1:

        @F.pandas_udf(LongType())
        def _nearest(vv, nrm):
            if not len(vv):
                return pd.Series([], dtype="int64")
            V = np.array(vv.tolist(), dtype=np.float64)[:, :dim]
            S = _centroid_cosines_np(V, nrm.to_numpy(np.float64), C, cns)
            # first max = lowest index = lowest cid (model cid-sorted)
            return pd.Series(cids[np.argmax(_rank_key_np(S), axis=1)])

        return v.withColumn("cid", _nearest(F.col("v"), F.col("nrm")))

    @F.pandas_udf(ArrayType(LongType()))
    def _probes(vv, nrm):
        if not len(vv):
            return pd.Series([], dtype="object")
        V = np.array(vv.tolist(), dtype=np.float64)[:, :dim]
        S = _centroid_cosines_np(V, nrm.to_numpy(np.float64), C, cns)
        # stable desc sort: ties keep ascending index order == asc cid
        order = np.argsort(-_rank_key_np(S), axis=1, kind="stable")[:, :top_n]
        return pd.Series([cids[row].tolist() for row in order])

    return v.withColumn("cid", F.explode(_probes(F.col("v"), F.col("nrm"))))


def train_ivf_centroids(
    vectors: DataFrame,
    n_clusters: int = 16,
    n_iters: int = 2,
    dim: int = 64,
    sample_rows: int = 65536,
) -> list:
    """IVF coarse quantizer trained driver-side on a BOUNDED sample (the
    FAISS pattern): the model is O(K·dim) parameters, and a coarse
    quantizer does not need the full table — the sample is capped at
    ``sample_rows`` regardless of table size, so driver memory stays
    constant at any scale, while assignment of the full table remains
    distributed (``_assign_clusters``). Replaces the former Spark-job
    Lloyd loop (crossJoin+window+posexplode+groupBy+collect per
    iteration — ~10 stages of pure scheduling overhead for a K×dim
    model). Seeds: first K vectors by id; assignment by max cosine with
    lowest-cid tie-break — both unchanged. Returns [(cid, centroid,
    norm)]."""
    import numpy as np

    pdf = (
        _as_double(vectors)
        .select("vec_id", "v")
        .orderBy("vec_id")
        .limit(sample_rows)
        .toPandas()
    )
    X = np.vstack(pdf["v"].to_numpy()).astype("float64")
    ids = pdf["vec_id"].to_numpy()
    k = min(n_clusters, len(X))
    C = X[:k].copy()
    for _ in range(n_iters):
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        assign = (Xn @ Cn.T).argmax(axis=1)  # ties → lowest index == lowest cid
        for c in range(k):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return [
        (int(ids[i]), [float(x) for x in C[i]], float(np.linalg.norm(C[i])))
        for i in range(k)
    ]


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    dim: int = 64,
) -> DataFrame:
    """IVF approximate top-k: vectors are partitioned into K coarse
    clusters; each query probes only its n_probe nearest clusters.

    The 100 TB shape: the vector table is scanned once to build the
    inverted lists (cluster-keyed), and query work is a cluster-equi-join
    touching ~n_probe/K of the data. Recall is tuned by n_probe
    (n_probe=K degenerates to exact brute force)."""
    model = train_ivf_centroids(vectors, n_clusters, dim=dim)
    cent = model
    v = _assign_clusters(_as_double(vectors), cent, dim).select(
        F.col("vec_id").alias("nn_id"), F.col("v").alias("vv"),
        F.col("nrm").alias("nv"), "cid",
    )
    q = _assign_clusters(_as_double(queries), cent, dim, top_n=n_probe).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("nrm").alias("nq"), "cid",
    )
    scored = (
        v.join(F.broadcast(q), on="cid")
        .filter(F.col("nn_id") != F.col("query_id"))
        .withColumn(
            "cos",
            F.round(
                dot_expanded(F.col("qv"), F.col("vv"), dim) / (F.col("nq") * F.col("nv")), 4
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nn_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nn_id", F.col("cos").alias("cosine"), "rank")
    )


# deterministic ±1 hyperplanes: plane p, dim j → sign from a fixed affine
# hash (no RNG — reproducible everywhere)
def _plane_sign(p: int, j: int) -> int:
    return 1 if ((p * 2654435761 + j * 40503 + 12345) >> 7) % 2 == 0 else -1


def _bucket_expr(vec_col, n_planes: int, dim: int):
    bucket = F.lit(0)
    for p in range(n_planes):
        dot = None
        for j in range(dim):
            term = F.element_at(vec_col, j + 1) * F.lit(float(_plane_sign(p, j)))
            dot = term if dot is None else dot + term
        bit = F.when(dot > 0, F.lit(1)).otherwise(F.lit(0))
        bucket = bucket + F.shiftleft(bit.cast("long"), p)
    return bucket


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 6,
    dim: int = 64,
) -> DataFrame:
    """Approximate cosine top-k: probe only the query's LSH bucket.
    With 6 planes → 64 buckets, a bucket join scans ~n/64 of the table
    per query; recall for high-cosine neighbors is high because close
    vectors agree on most hyperplane signs."""
    v = _as_double(vectors).select(
        F.col("vec_id").alias("nn_id"),
        F.col("v").alias("vv"),
        F.col("nrm").alias("nv"),
        _bucket_expr(F.col("v"), n_planes, dim).alias("bucket"),
    )
    q = _as_double(queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("nq"),
        _bucket_expr(F.col("v"), n_planes, dim).alias("bucket"),
    )
    scored = (
        v.join(F.broadcast(q), on="bucket")
        .filter(F.col("nn_id") != F.col("query_id"))
        .withColumn(
            "cos",
            F.round(
                dot_expanded(F.col("qv"), F.col("vv"), dim) / (F.col("nq") * F.col("nv")), 4
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nn_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nn_id", F.col("cos").alias("cosine"), "rank")
    )


def embedding_hygiene(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Embedding-table hygiene pass (the pre-index sanity filter every
    vector pipeline runs): per-vector dimensionality, L2 norm, and
    zero-vector flag. Pure map-side JVM expressions — a full-table scan
    with no exchange, so it rides along any other pass over the vectors.
    Norms use the sequential fold (cross-engine bit-exact; sqrt is
    IEEE-correctly-rounded in both engines)."""
    v = F.col(vec_col).cast("array<double>")
    norm = vec_norm(v)
    return emb.select(
        "vec_id",
        F.size(F.col(vec_col)).cast("int").alias("dim"),
        norm.alias("l2_norm"),
        (norm == 0.0).alias("is_zero"),
    )


def kmeans_fit(
    vectors: DataFrame, n_clusters: int = 8, n_iters: int = 4, dim: int = 64
) -> list:
    """Fully-distributed Lloyd's k-means over the embedding table — the
    scale path when the corpus exceeds any driver sample (complements
    ``train_ivf_centroids``'s bounded-sample quantizer; same model
    format, so the two are interchangeable downstream).

    Per iteration, everything data-sized stays on executors:
      * assignment: centroids BROADCAST (K·dim model), one scan of the
        vectors, argmax cosine with lowest-cid tie-break;
      * update: per-component partial sums via posexplode to
        (cid, comp_idx, value) with map-side combine — the shuffle
        carries at most K·dim rows per input partition, never vectors;
      * the only driver materialization is the K·dim centroid model
        itself, constant in data size.
    Init is the first K vectors by vec_id (deterministic, same as IVF).
    Returns [(cid, centroid, norm)].
    """
    import numpy as np

    # held cached: every Lloyd iteration (and the seed) re-executes this
    # frame; without it each iteration re-scans + re-casts the vectors
    v = _as_double(vectors).select("vec_id", "v", "nrm")
    with materialized(v) as v:
        seed_rows = v.orderBy("vec_id").limit(n_clusters).collect()
        C = np.array([r.v for r in seed_rows], dtype="float64")
        k = len(C)
        spark = vectors.sparkSession
        for _ in range(n_iters):
            model = [
                (i, [float(x) for x in C[i]], float(np.linalg.norm(C[i])))
                for i in range(k)
            ]
            assigned = _assign_clusters(v, model, dim)
            sums = (
                assigned.select(
                    "cid",
                    F.posexplode(F.col("v")).alias("comp_idx", "val"),
                )
                .groupBy("cid", "comp_idx")
                .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
            newC = C.copy()
            counts = np.zeros(k)
            acc = np.zeros((k, dim))
            for r in sums:
                acc[r.cid][r.comp_idx] = r.s
                counts[r.cid] = r.n
            for c in range(k):
                if counts[c] > 0:
                    newC[c] = acc[c] / counts[c]
            C = newC
    return [
        (i, [float(x) for x in C[i]], float(np.linalg.norm(C[i])))
        for i in range(k)
    ]


def kmeans_assign(
    vectors: DataFrame, model: list, dim: int = 64
) -> DataFrame:
    """(vec_id, cluster_id, cos_to_centroid) under a fitted model —
    broadcast centroids, one scan (argmax cosine, lowest-cid ties)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    cids, C, cns = _centroid_arrays(model, dim)

    # same map-only kernel as _assign_clusters, with the winning raw
    # score carried out so rounding stays JVM-side (F.round is HALF_UP;
    # numpy's is half-even)
    @F.pandas_udf(
        StructType(
            [StructField("cid", LongType()), StructField("ccos", DoubleType())]
        )
    )
    def _nearest_cos(vv, nrm):
        if not len(vv):
            return pd.DataFrame(
                {
                    "cid": pd.Series([], dtype="int64"),
                    "ccos": pd.Series([], dtype="float64"),
                }
            )
        V = np.array(vv.tolist(), dtype=np.float64)[:, :dim]
        S = _centroid_cosines_np(V, nrm.to_numpy(np.float64), C, cns)
        idx = np.argmax(_rank_key_np(S), axis=1)
        return pd.DataFrame(
            {"cid": cids[idx], "ccos": S[np.arange(len(idx)), idx]}
        )

    v = _as_double(vectors)
    return v.select(
        "vec_id", _nearest_cos(F.col("v"), F.col("nrm")).alias("a")
    ).select(
        "vec_id",
        F.col("a.cid").alias("cluster_id"),
        F.round("a.ccos", 4).alias("cos_to_centroid"),
    )


def train_pq_codebooks(
    vectors: DataFrame,
    n_subspaces: int = 16,
    n_codes: int = 64,
    n_iters: int = 4,
    dim: int = 64,
    sample_rows: int = 65536,
) -> list:
    """Product-quantization codebooks (Jégou et al. 2011, the FAISS PQ
    pattern): split each vector into ``n_subspaces`` contiguous
    sub-vectors and k-means each subspace to ``n_codes`` centroids.
    Vectors are L2-normalized first, so ADC's L2 ordering is monotone
    with cosine similarity (||a-b||^2 = 2 - 2cos on the unit sphere) and
    PQ results rank consistently with the cosine brute-force baseline.
    Defaults (16 subspaces x 64 codes = 16 bytes/vector) are tuned for
    the synthetic near-uniform fixture — the WORST case for PQ; real
    embedding corpora cluster and reach higher recall at coarser codes.
    Training runs driver-side on a BOUNDED sample (model is
    n_subspaces x n_codes x dim/n_subspaces floats — constant in data
    size, like the IVF coarse quantizer); encoding and search stay
    distributed. Deterministic: sample = first rows by vec_id, init =
    first n_codes sub-vectors, L2 assignment with lowest-code ties.
    Returns [[subspace][code] -> centroid list]."""
    import numpy as np

    sub_dim = dim // n_subspaces
    pdf = (
        _as_double(vectors)
        .select("vec_id", "v")
        .orderBy("vec_id")
        .limit(sample_rows)
        .toPandas()
    )
    X = np.vstack(pdf["v"].to_numpy()).astype("float64")
    X = X / np.linalg.norm(X, axis=1, keepdims=True)  # unit sphere: L2 ~ cosine
    books = []
    for s in range(n_subspaces):
        Xs = X[:, s * sub_dim : (s + 1) * sub_dim]
        k = min(n_codes, len(Xs))
        C = Xs[:k].copy()
        for _ in range(n_iters):
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)  # argmin ties -> lowest code
            for c in range(k):
                m = Xs[assign == c]
                if len(m):
                    C[c] = m.mean(axis=0)
        books.append([[float(x) for x in C[c]] for c in range(k)])
    return books


def pq_encode(
    vectors: DataFrame, books: list, dim: int = 64
) -> DataFrame:
    """Encode each vector to n_subspaces uint8 codes (argmin L2 per
    subspace against the broadcast codebooks) — a pure map over one scan,
    Arrow-batched BLAS in the kernel, 8-16 bytes per vector out. The
    64x-256x compression that makes billion-vector search fit memory."""
    import numpy as np
    import pandas as pd

    n_subspaces = len(books)
    sub_dim = dim // n_subspaces
    B = [np.array(b, dtype="float64") for b in books]

    def _enc(batch_iter):
        for pdf in batch_iter:
            X = np.vstack(pdf["v"].to_numpy()).astype("float64")
            X = X / np.linalg.norm(X, axis=1, keepdims=True)
            codes = np.zeros((len(pdf), n_subspaces), dtype="int32")
            for s in range(n_subspaces):
                Xs = X[:, s * sub_dim : (s + 1) * sub_dim]
                d2 = ((Xs[:, None, :] - B[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "codes": list(codes)}
            )

    return _as_double(vectors).select("vec_id", "v").mapInPandas(
        _enc, "vec_id long, codes array<int>"
    )


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    books: list,
    k: int = 10,
    dim: int = 64,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) approximate top-k: each query builds
    an n_subspaces x n_codes lookup table of exact sub-distances to every
    codebook centroid; a candidate's approximate distance is then
    n_subspaces table lookups over its codes — no float math per pair.
    Queries + tables are broadcast; the scan touches only the code
    table (compressed), never the raw vectors. Approximate -> recall is
    unit-gated (tests/test_pq.py), rows-only in the driver gate."""
    import numpy as np
    import pandas as pd

    n_subspaces = len(books)
    sub_dim = dim // n_subspaces
    B = [np.array(b, dtype="float64") for b in books]
    qrows = _as_double(queries).select("vec_id", "v").orderBy("vec_id").collect()
    qids = [r.vec_id for r in qrows]
    tables = []  # per query: (n_subspaces, n_codes) sub-distance LUT
    for r in qrows:
        qv = np.array(r.v, dtype="float64")
        qv = qv / np.linalg.norm(qv)
        lut = np.stack(
            [
                ((B[s] - qv[s * sub_dim : (s + 1) * sub_dim]) ** 2).sum(axis=1)
                for s in range(n_subspaces)
            ]
        )
        tables.append(lut)
    T = np.stack(tables)  # (n_queries, n_subspaces, n_codes)

    codes = pq_encode(vectors, books, dim)

    def _score(batch_iter):
        for pdf in batch_iter:
            C = np.vstack(pdf["codes"].to_numpy()).astype("int64")
            n = len(pdf)
            sub_idx = np.arange(n_subspaces)
            out_q, out_n, out_d = [], [], []
            for qi, qid in enumerate(qids):
                d = T[qi][sub_idx[None, :], C].sum(axis=1)
                out_q.extend([qid] * n)
                out_n.extend(pdf["vec_id"].tolist())
                out_d.extend(d.tolist())
            yield pd.DataFrame(
                {"query_id": out_q, "nn_id": out_n, "adc_dist": out_d}
            )

    scored = codes.mapInPandas(
        _score, "query_id long, nn_id long, adc_dist double"
    ).filter(F.col("query_id") != F.col("nn_id"))
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("nn_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nn_id", F.round("adc_dist", 4).alias("adc_dist"), "rank")
    )


def ivfpq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    n_subspaces: int = 16,
    n_codes: int = 64,
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ (the FAISS IVFADC composition, Jégou et al. 2011 §IV):
    coarse clusters bound WHICH vectors each query scores (touch
    ~n_probe/K of the table), PQ codes bound WHAT is read per candidate
    (16 B of codes, not the raw vector). The billion-vector serving
    shape: inverted lists keyed by cluster, compressed codes inside.

    Plan: both models are bounded-sample driver-trained (constant-size);
    vectors are assigned + encoded in one distributed pass; the query →
    cluster routing table is broadcast; candidate scoring is an
    Arrow-batched LUT-gather kernel over the cluster-pruned join, and
    the final top-k is a per-query window. Approximate → recall
    unit-gated (tests/test_pq.py), rows-only in the driver gate."""
    import numpy as np
    import pandas as pd

    ivf = train_ivf_centroids(vectors, n_clusters, dim=dim)
    books = train_pq_codebooks(vectors, n_subspaces, n_codes, dim=dim)
    sub_dim = dim // n_subspaces
    B = [np.array(b, dtype="float64") for b in books]
    cent = ivf

    assigned = _assign_clusters(_as_double(vectors), cent, dim)
    codes = pq_encode(vectors, books, dim).join(
        assigned.select("vec_id", "cid"), on="vec_id"
    )

    qrows = _as_double(queries).select("vec_id", "v").orderBy("vec_id").collect()
    qids = [r.vec_id for r in qrows]
    qidx = {q: i for i, q in enumerate(qids)}
    tables = []
    for r in qrows:
        qv = np.array(r.v, dtype="float64")
        qv = qv / np.linalg.norm(qv)
        tables.append(
            np.stack(
                [
                    ((B[s] - qv[s * sub_dim : (s + 1) * sub_dim]) ** 2).sum(axis=1)
                    for s in range(n_subspaces)
                ]
            )
        )
    T_lut = np.stack(tables)  # (n_queries, n_subspaces, n_codes)

    routing = _assign_clusters(
        _as_double(queries), cent, dim, top_n=n_probe
    ).select(F.col("vec_id").alias("query_id"), "cid")

    cand = codes.join(F.broadcast(routing), on="cid").filter(
        F.col("vec_id") != F.col("query_id")
    )

    def _score(batch_iter):
        sub_idx = np.arange(n_subspaces)
        for pdf in batch_iter:
            C = np.vstack(pdf["codes"].to_numpy()).astype("int64")
            qi = pdf["query_id"].map(qidx).to_numpy()
            d = T_lut[qi[:, None], sub_idx[None, :], C].sum(axis=1)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "nn_id": pdf["vec_id"],
                    "adc_dist": d,
                }
            )

    scored = cand.select("query_id", "vec_id", "codes").mapInPandas(
        _score, "query_id long, nn_id long, adc_dist double"
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("nn_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nn_id", F.round("adc_dist", 4).alias("adc_dist"), "rank")
    )


def maxsim_q14(qv_col, dv_col, n_tokens: int = 4, dim: int = 16):
    """Late-interaction MaxSim (Khattab & Zaharia 2020, ColBERT): both
    vectors are multi-vector docs — ``n_tokens`` contiguous ``dim``-wide
    token slots packed in one array — and the score is

        sum over query tokens j of  max over doc tokens i of
            round(dot(q_j, d_i) * 10000)   (int64 fixed-point, q14)

    Every pairwise dot is an UNROLLED flat sum (element_at chains — stays
    in whole-stage codegen like dot_expanded), rounded half-away-from-zero
    to 4 decimals as an integer so max/sum are exact in any engine; the
    per-token max is F.greatest over the n_tokens columns. The whole score
    is ONE projection: no explode, no join, no shuffle — per-doc cost is
    O(n_tokens^2 * dim) multiply-adds in codegen."""
    per_q = []
    for j in range(n_tokens):
        dots = []
        for i in range(n_tokens):
            dot = None
            for k in range(1, dim + 1):
                term = F.element_at(qv_col, j * dim + k) * F.element_at(
                    dv_col, i * dim + k
                )
                dot = term if dot is None else dot + term
            dots.append(F.round(dot * 10000, 0).cast("long"))
        per_q.append(F.greatest(*dots))
    score = None
    for col in per_q:
        score = col if score is None else score + col
    return score


def sq8_quantized(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"):
    """Scalar (SQ8) quantization — the production 4x memory saver for
    vector search: per vector, scale = max(|x_i|) and q_i =
    clamp(round(x_i * 127 / scale), -127, 127) stored as integers.
    Returns (id, mx DOUBLE, q array<long>). round() is half-away-from-
    zero in both Spark (HALF_UP) and DuckDB, so the quantized codes are
    bit-identical across engines; at 100 TB the int8 codes are what sit
    in memory/cache while the float corpus stays on cold storage."""
    v = _as_double(emb, id_col=id_col, vec_col=vec_col).drop("nrm")
    mx = F.aggregate(
        F.col("v"), F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x))
    )
    out = v.withColumn("mx", mx)
    q = F.transform(
        F.col("v"),
        lambda x: F.greatest(
            F.lit(-127.0),
            F.least(F.lit(127.0), F.round(x * 127.0 / F.col("mx"), 0)),
        ).cast("long"),
    )
    return out.select(F.col(id_col), "mx", q.alias("q"))


def sq8_topk(
    vectors: DataFrame, queries: DataFrame, k: int = 10, dim: int = 64
) -> DataFrame:
    """Top-k by SQ8 approximate dot product: integer code dot (EXACT in
    any engine — 64 * 127^2 fits a double's 53-bit mantissa, far inside
    int64) rescaled by the two stored scales, reported in milli-units.
    The pair loop pays an UNROLLED integer multiply-add chain in
    whole-stage codegen over the int8-range codes — the same plan shape
    as brute_force_topk but on quarter-width data; in production the
    float re-rank (brute_force_topk on the survivors) follows."""
    vq = sq8_quantized(vectors).select(
        F.col("vec_id").alias("nn_id"),
        F.col("mx").alias("mxd"),
        F.col("q").alias("dq"),
    )
    qq = sq8_quantized(queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("mx").alias("mxq"),
        F.col("q").alias("qq"),
    )
    pairs = vq.join(F.broadcast(qq), F.col("nn_id") != F.col("query_id"))
    idot = None
    for i in range(1, dim + 1):
        term = F.element_at(F.col("qq"), i) * F.element_at(F.col("dq"), i)
        idot = term if idot is None else idot + term
    scored = pairs.withColumn("idot", idot.cast("long")).withColumn(
        "score_milli",
        F.round(
            F.col("mxq") * F.col("mxd") * F.col("idot") * 1000.0 / 16129.0, 0
        ).cast("long"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_milli"), F.asc("nn_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "nn_id", "idot", "score_milli", "rank")
    )


def sq8_rerank_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 40,
    dim: int = 64,
) -> DataFrame:
    """Two-stage retrieval — the production vector-serving shape at any
    scale (FAISS/ScaNN deployments: a cheap quantized scan proposes, an
    exact pass on the survivors disposes):

    stage 1  SQ8 integer-code dot over the whole corpus (quarter-width
             data, whole-stage codegen) keeps the top-``shortlist``
             candidates per query — deterministic (score_milli DESC,
             nn_id ASC), so the shortlist itself is replayable;
    stage 2  exact float cosine ONLY on the shortlisted pairs — one
             corpus join against the broadcast shortlist (queries ×
             shortlist rows, ~KBs), then the final top-``k`` window.

    At 100 TB stage 2 touches shortlist×|Q| raw vectors instead of the
    corpus: the re-rank cost is independent of table size, which is why
    the pattern exists. Output carries both ranks, so the gate also
    pins HOW MUCH the exact pass reorders the quantized one. Fully
    value-gated: both stages are integer/rounded arithmetic replayed by
    the DuckDB oracle (no sampling, no RNG)."""
    short = sq8_topk(vectors, queries, k=shortlist, dim=dim).select(
        "query_id", "nn_id", F.col("rank").alias("sq8_rank")
    )
    v = _as_double(vectors).select(
        F.col("vec_id").alias("nn_id"),
        F.col("v").alias("vv"),
        F.col("nrm").alias("nv"),
    )
    q = _as_double(queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("nq"),
    )
    cand = v.join(F.broadcast(short), "nn_id").join(F.broadcast(q), "query_id")
    scored = cand.withColumn(
        "cosine",
        F.round(
            dot_expanded(F.col("qv"), F.col("vv"), dim)
            / (F.col("nq") * F.col("nv")),
            4,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nn_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "nn_id", "cosine", "sq8_rank", "rank")
    )
