"""Deduplication operators for training-data pipelines.

Five strategies, all partition-parallel (no driver-side materialization):

- **exact**: hash-groupBy on a normalized fingerprint. One shuffle keyed
  by the fingerprint — at 100 TB the exchange carries (doc_id, 16-byte
  hash), not the text.
- **n-gram Jaccard** (exact pairwise): prefix-filtered inverted index
  (All-Pairs/PPJoin) — candidates only from each doc's rarest
  ``n-⌈τ·n⌉+1`` shingles, then exact verification per candidate. Cost is
  Σ(prefix-posting-list)², immune to hot-shingle df² blowup.
- **MinHash + LSH** (scale path): shingle → 64 hash permutations
  (xxhash64 with per-permutation salt) → min per permutation → band the
  signature (16 bands × 4 rows) → candidate pairs join on band hash →
  *exact* Jaccard verification of candidates. At J ≥ 0.8 the miss
  probability per pair is (1-0.8⁴)¹⁶ ≈ 3e-4; verified output therefore
  equals the exact result with near-certainty while touching only
  banded candidates.
- **SimHash**: per-token 64-bit hash → signed bit votes → majority
  fingerprint; near-dup pairs via 16-bit chunk banding (pigeonhole: any
  pair within Hamming distance 3 shares one of 4 chunks).
- **embedding cosine**: exact pairwise above a threshold (brute force
  baseline; the LSH-bucketed scale path lives in operators/similarity.py).

Everything is built-in column expressions — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fluss_iceberg_spark.operators.text import tokens
from fluss_iceberg_spark.operators.util import materialized, release_checkpoint


def normalize(text_col) -> F.Column:
    return F.regexp_replace(F.lower(F.trim(text_col)), r"\s+", " ")


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup groups: one row per distinct normalized text with the
    representative (min doc_id) and the duplicate count."""
    return (
        docs.select("doc_id", F.md5(normalize(F.col(text_col))).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingles(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, shingle) pairs: distinct word n-grams per document."""
    from fluss_iceberg_spark.operators.util import spread

    docs = spread(docs)
    toks = tokens(F.col(text_col))
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]),
    )
    return (
        docs.select("doc_id", F.explode(grams).alias("shingle"))
        .filter(F.col("shingle") != "")
        .distinct()
    )


def _gram_hash_set(text_col: str, n: int):
    """Column: the DISTINCT word n-grams of ``text_col`` hashed to int64,
    built entirely MAP-SIDE (array ops inside whole-stage codegen — no
    explode+distinct shuffle; downstream exchanges carry 8-byte longs,
    not ~25-byte shingle strings). Collision risk over a realistic
    shingle vocabulary is ~|V|²/2⁶⁵ — immaterial even at 100 TB."""
    toks = tokens(F.col(text_col))
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]),
    )
    return F.transform(
        F.array_distinct(F.filter(grams, lambda g: g != F.lit(""))),
        lambda g: F.xxhash64(g),
    )


def shingle_sets(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, shset: array<long>, n) — each doc's distinct word n-grams
    hashed to int64 map-side (see ``_gram_hash_set``). The input is
    ``spread()`` first so the gram kernel parallelizes even over a
    single-split scan (no-op on a well-split 100 TB input)."""
    from fluss_iceberg_spark.operators.util import spread

    shset = _gram_hash_set(text_col, n)
    return spread(docs).select(
        "doc_id", shset.alias("shset"), F.size(shset).alias("n")
    )


def _verify_candidates(
    sets: DataFrame,
    cand: DataFrame,
    threshold: float,
    right_sets: DataFrame | None = None,
    broadcast_cand: bool = False,
) -> DataFrame:
    """Exact Jaccard for candidate (d1, d2) pairs only: join each side's
    full shingle-hash array and intersect JVM-side. Cost is
    O(|candidates| · doc length) — never the O(Σ df²) of a full
    inverted-index self-join. ``right_sets`` supplies d2's sets from a
    different frame (the streaming admission path, where d1 is an
    admitted owner and d2 an arriving doc); default is the self-join
    form. ONE implementation on purpose — batch LSH dedup and streaming
    admission must never drift on the similarity rule.

    ``broadcast_cand``: hint the candidate side into both set joins —
    right when the caller KNOWS candidates are bounded (a micro-batch's
    collision set), sparing AQE a runtime discovery round per join;
    batch dedup leaves it off (corpus-scale candidate sets must
    shuffle)."""
    s1 = sets.select(
        F.col("doc_id").alias("d1"), F.col("shset").alias("set1"), F.col("n").alias("n1")
    )
    s2 = (sets if right_sets is None else right_sets).select(
        F.col("doc_id").alias("d2"), F.col("shset").alias("set2"), F.col("n").alias("n2")
    )
    if broadcast_cand:
        cand = F.broadcast(cand)
    half = cand.join(s1, on="d1")
    if broadcast_cand:
        # still candidate-sized (now carrying d1's set): keep the second
        # join map-side too
        half = F.broadcast(half)
    return (
        half.join(s2, on="d2")
        .withColumn("shared", F.size(F.array_intersect("set1", "set2")).cast("long"))
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


def _verified_pairs(
    docs: DataFrame, text_col: str, n: int, threshold: float, candidates
) -> DataFrame:
    """The pairs of ``candidates(sets)`` with exact Jaccard ≥ ``threshold``
    as an eager, result-sized checkpoint; the shingle sets both phases
    read are held cached only while it is computed."""
    with materialized(shingle_sets(docs, text_col, n)) as sets:
        pairs = _verify_candidates(sets, candidates(sets), threshold)
        return pairs.localCheckpoint(eager=True)


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.8, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via prefix filtering
    (All-Pairs/PPJoin): under a global rarest-first shingle order, two
    sets with J ≥ τ must collide within their first
    ``n_i - ⌈τ·n_i⌉ + 1`` shingles — so the candidate self-join runs on
    that prefix slice of the index only (rare shingles ⇒ tiny posting
    lists), and candidates are then exact-verified. Same result set as
    the naive full self-join, minus its Σ df² blowup on hot shingles.
    (+1 slack on the prefix bound guards ceil/float edges; precision is
    exact either way because every candidate is verified.)"""
    cand = lambda sets: _prefix_candidates(sets, threshold)  # noqa: E731
    return _verified_pairs(docs, text_col, n, threshold, cand)


def _prefix_candidates(sets: DataFrame, threshold: float) -> DataFrame:
    """(d1 < d2) pairs sharing a shingle within their rarest-first prefixes."""
    index = sets.select("doc_id", F.explode("shset").alias("shingle"))
    freq = index.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    k = F.greatest(
        F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 2, F.lit(1)
    ).cast("int")
    prefix = (
        index.join(freq, on="shingle")
        .groupBy("doc_id")
        .agg(
            F.collect_list(F.struct("df", "shingle")).alias("post"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "doc_id",
            F.explode(F.slice(F.array_sort("post"), F.lit(1), k)).alias("p"),
        )
        .select("doc_id", F.col("p.shingle").alias("shingle"))
    )
    cand = (
        prefix.select(F.col("doc_id").alias("d1"), "shingle")
        .join(prefix.select(F.col("doc_id").alias("d2"), "shingle"), on="shingle")
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )
    return cand


N_PERM = 64
BANDS = 16
ROWS_PER_BAND = N_PERM // BANDS

# Spark's XXH64 primes (sql/catalyst XxHash64Function / unsafe XXH64) —
# the numpy replay below must track them exactly
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5


def _xxh64_fmix_np(h):
    import numpy as np

    # uint64 wraparound is the algorithm; silence the overflow warning
    # HERE so every exported helper is safe at any call site (r12
    # ADVICE: only _minhash_np wrapped its calls, so direct callers
    # tripped RuntimeWarning under warning-as-error configs)
    with np.errstate(over="ignore"):
        h = h ^ (h >> np.uint64(33))
        h = h * np.uint64(_XXH_P2)
        h = h ^ (h >> np.uint64(29))
        h = h * np.uint64(_XXH_P3)
        return h ^ (h >> np.uint64(32))


def _xxh64_rotl_np(x, r: int):
    import numpy as np

    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def xxh64_long_np(v, seed):
    """numpy uint64 replay of Spark's ``XXH64.hashLong`` — bit-for-bit
    (validated against F.xxhash64 on random probes; golden-pinned via
    tests/test_stream_neardup.py). ``v``: uint64 array; ``seed``: uint64
    scalar or array."""
    import numpy as np

    with np.errstate(over="ignore"):
        h = seed + np.uint64(_XXH_P5) + np.uint64(8)
        k1 = _xxh64_rotl_np(v * np.uint64(_XXH_P2), 31) * np.uint64(_XXH_P1)
        h = h ^ k1
        h = _xxh64_rotl_np(h, 27) * np.uint64(_XXH_P1) + np.uint64(_XXH_P4)
        return _xxh64_fmix_np(h)


def xxh64_int_np(k: int, seed):
    """numpy uint64 replay of Spark's ``XXH64.hashInt`` for a constant
    4-byte int ``k`` under per-element ``seed``s (the chained form
    ``xxhash64(long_col, lit(k))`` evaluates hashInt(k, hashLong(col)))."""
    import numpy as np

    with np.errstate(over="ignore"):
        h = seed + np.uint64(_XXH_P5) + np.uint64(4)
        h = h ^ (np.uint64(k & 0xFFFFFFFF) * np.uint64(_XXH_P1))
        h = _xxh64_rotl_np(h, 23) * np.uint64(_XXH_P2) + np.uint64(_XXH_P3)
        return _xxh64_fmix_np(h)


def _minhash_np(arrs: list) -> list:
    """The 64-permutation MinHash kernel over ragged shingle-hash arrays:
    one shared hashLong pass (seed 42) over the flattened values, then
    per-permutation hashInt + segment-min. Signed int64 mins, exactly as
    array_min compares longs; empty sets yield None (array_min of an
    empty array is NULL)."""
    import numpy as np

    # NULL arrays map to NULL signatures, like the old
    # array_min(transform(...)) form did (r12 ADVICE: len(None) raised)
    lens = np.fromiter(
        (0 if a is None else len(a) for a in arrs),
        dtype=np.int64,
        count=len(arrs),
    )
    nz = lens > 0
    res: list = [None] * len(arrs)
    if not nz.any():
        return res
    with np.errstate(over="ignore"):
        flat = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in arrs if a is not None and len(a)]
        ).view(np.uint64)
        base = xxh64_long_np(flat, np.uint64(42))
        seg = np.zeros(int(nz.sum()), dtype=np.int64)
        seg[1:] = np.cumsum(lens[nz])[:-1]
        sig = np.empty((len(seg), N_PERM), dtype=np.int64)
        for k in range(N_PERM):
            hk = xxh64_int_np(k, base).view(np.int64)
            sig[:, k] = np.minimum.reduceat(hk, seg)
    rows = sig.tolist()
    j = 0
    for i, has in enumerate(nz):
        if has:
            res[i] = rows[j]
            j += 1
    return res


def minhash_signatures(sets: DataFrame) -> DataFrame:
    """64-permutation MinHash signature per doc: permutation k is
    xxhash64(shingle_hash, k); signature[k] = min over the doc's
    shingles. Zero shuffles, one Arrow-vectorized kernel (guide §4.2):
    the former 64-column ``array_min(transform(...))`` projection ran
    interpreted (higher-order functions never reach codegen) and burned
    ~60 s CPU per admission tick on the sf0.1 batch, plus ~0.8 s of
    driver-side Catalyst analysis per action that re-planned its
    ~500-node tree. ``_minhash_np`` replays the exact arithmetic
    (Spark's XXH64 in uint64, signed-min like array_min) so key values
    are unchanged — golden-pinned in tests/test_stream_neardup.py."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def _sig64(shset):
        return pd.Series(_minhash_np(shset.tolist()))

    sig = sets.select("doc_id", _sig64("shset").alias("_sig"))
    return sig.select(
        "doc_id",
        *[F.element_at("_sig", k + 1).alias(f"h{k}") for k in range(N_PERM)],
    )


def minhash_lsh_pairs(
    docs: DataFrame, threshold: float = 0.8, text_col: str = "text", n: int = 3
) -> DataFrame:
    """MinHash-LSH near-dup pairs with exact-Jaccard verification.

    Scale path: candidates come only from banded signature collisions
    (16 bands × 4 rows), then candidate pairs are verified with the exact
    Jaccard — so precision is exact and recall ≈ 1 above the threshold.

    The shingle-hash sets feed both the signature projection and the
    candidate verification, so tokenization runs once
    (``_verified_pairs``).
    """
    return _verified_pairs(docs, text_col, n, threshold, _lsh_candidates)


def _lsh_candidates(sets: DataFrame) -> DataFrame:
    """(d1 < d2) pairs whose MinHash signatures collide in some band."""
    # ONE banding implementation (band_keys) serves both this batch path
    # and the streaming admission state — bucket keys must stay
    # byte-identical across the two or cross-path collisions break
    bands = band_keys(minhash_signatures(sets))
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), on="bkey")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("d1"), F.col("y.doc_id").alias("d2")
        )
        .distinct()
    )
    return cand


def _simhash_kernel(batch_iter):
    """mapInPandas kernel: 64-bit SimHash from a per-doc token-hash array.

    Vectorized bit voting: for each bit i, popcount across the doc's token
    hashes via shift-and + ``np.add.reduceat`` over the concatenated hash
    buffer (64 passes of O(total_tokens) each, O(total_tokens) memory —
    never a tokens×64 matrix). Majority vote per bit = fingerprint bit.
    Bit-identical to the former explode + 64-conditional-SUM aggregate,
    without its token-explode shuffle."""
    import numpy as np
    import pandas as pd

    for pdf in batch_iter:
        arrs = [np.asarray(a, dtype=np.int64) for a in pdf["th"]]
        lens = np.array([len(a) for a in arrs], dtype=np.int64)
        keep = lens > 0  # docs with no tokens produced no row in the old agg
        if not keep.any():
            continue
        lens = lens[keep]
        flat = np.concatenate([a for a in arrs if len(a)]).astype(np.uint64)
        offsets = np.concatenate([[0], np.cumsum(lens)[:-1]])
        ones = np.empty((len(lens), 64), dtype=np.int64)
        for i in range(64):
            ones[:, i] = np.add.reduceat(
                (flat >> np.uint64(i)) & np.uint64(1), offsets
            ).astype(np.int64)
        votes = 2 * ones - lens[:, None]  # +1 per set bit, -1 per clear bit
        fp = (
            ((votes > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64))
            .sum(axis=1, dtype=np.uint64)
            .view(np.int64)
        )
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].to_numpy()[keep], "simhash": fp}
        )


def simhash_fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document from token-level xxhash64 votes.

    The token hashes are computed JVM-side into a per-doc array (map-side,
    duplicates kept — votes are term-frequency weighted), then an
    Arrow-batched kernel does the bit voting. ZERO shuffles: the former
    plan exploded every token and ran 64 conditional SUM aggregates over
    a token-keyed exchange (192 s at sf0.1 — CORRECTNESS_r01 bench tail)."""
    from fluss_iceberg_spark.operators.util import spread

    th = F.transform(
        F.filter(tokens(F.col(text_col)), lambda t: t != F.lit("")),
        lambda t: F.xxhash64(t),
    )
    return spread(docs).select("doc_id", th.alias("th")).mapInPandas(
        _simhash_kernel, "doc_id long, simhash long"
    )


def simhash_near_pairs(
    docs: DataFrame, max_hamming: int = 3, text_col: str = "text"
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, banded into 4× 16-bit
    chunks (pigeonhole guarantee for distance ≤ 3).

    The chunk rows are hash-partitioned on the join key before the self
    join: both join sides then plan the same exchange, which AQE reuses,
    so the tokenize + hash + kernel pipeline runs once instead of once
    per side — without a persist."""
    fp = simhash_fingerprints(docs, text_col)
    chunks = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("simhash"), c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("cv"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    ).select("doc_id", "simhash", "cc.chunk", "cc.cv").repartition("chunk", "cv")
    cand = (
        chunks.alias("x")
        .join(chunks.alias("y"), on=["chunk", "cv"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("d1"),
            F.col("y.doc_id").alias("d2"),
            F.col("x.simhash").alias("s1"),
            F.col("y.simhash").alias("s2"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
    )


def connected_components(
    pairs: DataFrame, max_iters: int = 20, small_graph_edges: int = 2_000_000
) -> DataFrame:
    """Cluster near-dup pairs into dedup groups: iterative min-label
    propagation over the undirected pair graph (the standard distributed
    connected-components loop — alternating large-star/small-star style).

    Input: (d1, d2) edges. Output: (doc_id, component) where component =
    min doc_id reachable. Each iteration is one groupBy-min over the edge
    list joined with current labels; converges in O(log n) iterations for
    near-dup graphs (components are tiny). The driver loop only checks a
    convergence *count* per iteration — no data is collected.

    Small-graph fast path: near-dup EDGE sets are orders of magnitude
    smaller than the corpus (only duplicates produce edges), so when the
    deduplicated edge list is under ``small_graph_edges`` (2M directed
    edges ~= 32 MB — a bounded model-sized collect like the IVF
    quantizer sample, far below driver memory at any corpus size), a
    driver-side union-find answers exactly in one pass instead of paying
    O(iterations) of distributed join/agg job overhead. Above the
    threshold the distributed loop runs unchanged — correctness identical
    (both compute min-reachable-label).
    """
    # hold the input: both union branches read it, and without a cache
    # the whole upstream pair-generation pipeline runs twice
    with materialized(pairs) as held:
        edges = held.select(F.col("d1").alias("a"), F.col("d2").alias("b")).unionByName(
            held.select(F.col("d2").alias("a"), F.col("d1").alias("b"))
        )
        # ONE action decides the path AND fetches the fast path's input: a
        # limit-collect of the RAW edge union — no distinct exchange on this
        # path (union-find dedups duplicate edges for free, and the limit
        # caps driver transfer exactly as before; admission control pays
        # this job per micro-batch tick). Duplicate-heavy graphs may hit the
        # cap with fewer distinct edges and take the distributed path a bit
        # early — that path is correct at any size, just slower.
        rows = edges.limit(small_graph_edges + 1).collect()
        if len(rows) > small_graph_edges:
            return _propagate_min_labels(edges, max_iters)
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = r.a, r.b
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the representative IS the min label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    out = [(node, find(node)) for node in parent]
    from pyspark.sql import types as T

    from fluss_iceberg_spark.operators.util import arrow_local_df

    id_type = edges.schema["a"].dataType  # label type follows the input
    schema = T.StructType(
        [T.StructField("doc_id", id_type), T.StructField("component", id_type)]
    )
    # Arrow local frame: the corpus-sized label list otherwise rides a
    # pickled Python RDD whose every consumer re-pays the Python
    # boundary (guide §4/§6) — measured 0.8-3 s per action at 10k rows
    return arrow_local_df(pairs.sparkSession, out, schema)


def _propagate_min_labels(edges: DataFrame, max_iters: int) -> DataFrame:
    """``connected_components``' distributed path. Each iteration's labels
    are a local checkpoint, released once the next one exists."""
    # dedup the edge list once up front — the iteration joins it
    # O(log n) times and duplicate edges would multiply every pass
    # (this pays back the distinct the fast path skipped)
    with materialized(edges.distinct()) as edges:
        labels = (
            edges.select(F.col("a").alias("node"))
            .distinct()
            .withColumn("component", F.col("node"))
            .localCheckpoint(eager=True)
        )
        for _ in range(max_iters):
            # neighbor's current label, then min(own, neighbors')
            neigh = (
                edges.join(labels, edges.b == labels.node)
                .select(F.col("a").alias("node"), F.col("component"))
            )
            new_labels = (
                labels.select("node", "component")
                .unionByName(neigh)
                .groupBy("node")
                .agg(F.min("component").alias("component"))
                .localCheckpoint(eager=True)
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), on="node")
                .filter(F.col("n.component") != F.col("o.component"))
                .count()
            )
            release_checkpoint(labels)
            labels = new_labels
            if changed == 0:
                break
    return labels.select(F.col("node").alias("doc_id"), "component")


def vec_norm(c) -> F.Column:
    """L2 norm of an array<double> column (sequential fold)."""
    return F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, v: acc + v * v))


def dot_expanded(a_col, b_col, dim: int) -> F.Column:
    """Dot product as a flat 'Σ element_at' expression. Unlike the
    zip_with/aggregate fold (interpreted per element), this stays inside
    whole-stage codegen — ~10× faster in the O(n²) pair loop. Left-assoc
    sequential addition, same order as a fold (oracle-parity safe)."""
    dot = None
    for i in range(1, dim + 1):
        term = F.element_at(a_col, i) * F.element_at(b_col, i)
        dot = term if dot is None else dot + term
    return dot


def embedding_cosine(a_col, b_col) -> F.Column:
    """Cosine similarity between two array<double> columns — sequential
    fold (F.aggregate), JVM-side, deterministic. Generic-dim form; the
    pair-loop operators precompute norms and use dot_expanded instead."""
    dot = F.aggregate(
        F.zip_with(a_col, b_col, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return dot / (vec_norm(a_col) * vec_norm(b_col))


def _block_pair_prefilter(threshold: float):
    """cogroup-applyInPandas kernel factory: BLAS all-pairs between one
    block pair (i, j). Emits candidate id pairs with cosine ≥ threshold −
    1e-6 (the margin covers BLAS-vs-sequential summation-order error,
    relative ≪ 1e-9 at small dims, so no true pair is lost)."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame({"id_a": np.array([], dtype=np.int64),
                          "id_b": np.array([], dtype=np.int64)})

    def fn(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if len(lpdf) == 0 or len(rpdf) == 0:
            return empty
        i, j = key
        amat = np.vstack(lpdf["v"].to_numpy()).astype("float64")
        anrm = lpdf["nrm"].to_numpy().astype("float64")
        bmat = np.vstack(rpdf["v"].to_numpy()).astype("float64")
        bnrm = rpdf["nrm"].to_numpy().astype("float64")
        sims = (amat @ bmat.T) / (anrm[:, None] * bnrm[None, :])
        ai, bi = np.where(sims >= threshold - 1e-6)
        id_a = lpdf["vec_id"].to_numpy()[ai]
        id_b = rpdf["vec_id"].to_numpy()[bi]
        if i == j:
            # same block on both sides: each unordered pair appears twice
            # (plus the diagonal) — keep the ordered half
            keep = id_a < id_b
            return pd.DataFrame({"id_a": id_a[keep], "id_b": id_b[keep]})
        # distinct blocks: each unordered pair appears exactly once —
        # normalize to (lo, hi)
        return pd.DataFrame(
            {"id_a": np.minimum(id_a, id_b), "id_b": np.maximum(id_a, id_b)}
        )

    return fn


def embedding_near_pairs(
    emb: DataFrame,
    threshold: float = 0.45,
    dim: int = 64,
    block_rows: int = 4096,
    n: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact above the threshold.

    Distributed block-matrix plan — NO driver-side materialization (the
    former design ``toPandas()``-ed the whole vector table, a driver OOM
    at scale):

    1. **Blocking** — vectors are hashed into B ≈ n/block_rows blocks;
       every unordered block pair (i ≤ j) becomes one cogroup task (each
       side of the data is replicated ~B/2 times, a shuffle of
       n·B/2 · (dim+2) doubles).
    2. **Vectorized prefilter** — each block pair runs one float64 BLAS
       matmul inside ``applyInPandas`` and emits only candidate id pairs
       above threshold − margin. Every unordered pair is scored exactly
       once across tasks.
    3. **Exact verification** — candidates (a tiny set) are re-scored
       with the sequential codegen'd dot product, bit-identical to the
       oracle's list_dot_product, and filtered at the exact threshold.

    Exact all-pairs is intrinsically O(n²) FLOPs; this shape spends them
    as distributed BLAS (B² bounded tasks, each a block_rows² matmul)
    with per-task memory O(block_rows·dim). For n where even distributed
    n² is hopeless, the approximate path is similarity.lsh_topk.
    """
    e = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    ).withColumn("nrm", vec_norm(F.col("v")))

    if n is None:
        # sizing-only count: over a table scan it prunes to the parquet
        # row counts, so it needs no cache (callers that know n — e.g.
        # from table metadata — pass it in)
        n = e.count()
    n_blocks = max(1, -(-n // block_rows))
    eb = e.withColumn(
        "g", F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).cast("int")
    )
    # left side serves block pairs (g, j≥g); right side serves (i≤g, g)
    left = eb.select(
        "vec_id", "v", "nrm", F.col("g").alias("i"),
        F.explode(F.sequence(F.col("g"), F.lit(n_blocks - 1))).alias("j"),
    )
    right = eb.select(
        "vec_id", "v", "nrm",
        F.explode(F.sequence(F.lit(0), F.col("g"))).alias("i"),
        F.col("g").alias("j"),
    )
    cand = (
        left.groupby("i", "j")
        .cogroup(right.groupby("i", "j"))
        .applyInPandas(_block_pair_prefilter(threshold), "id_a long, id_b long")
    )

    a = e.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    return (
        cand.join(a, on="id_a")
        .join(b, on="id_b")
        .withColumn(
            "cos", dot_expanded(F.col("va"), F.col("vb"), dim) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 4).alias("cosine"))
    )


def semantic_representatives(
    emb: DataFrame, threshold: float = 0.45, dim: int = 64
) -> DataFrame:
    """Semantic dedup: cluster embedding near-dup pairs (cosine ≥ τ) into
    components and elect the min vec_id as each cluster's representative;
    singletons represent themselves. The canonical keep/drop decision of
    an embedding-level dedup pass:

        keep = (vec_id == representative)

    Composition of the two scale paths above: block-matrix pair
    generation + min-label-propagation clustering; the final left join is
    a broadcast of the (tiny) non-singleton label set.
    """
    pairs = embedding_near_pairs(emb, threshold, dim)
    labels = connected_components(
        pairs.select(F.col("id_a").alias("d1"), F.col("id_b").alias("d2"))
    )
    ids = emb.select("vec_id")
    return (
        ids.join(
            F.broadcast(labels.withColumnRenamed("doc_id", "vec_id")),
            on="vec_id",
            how="left",
        )
        .select(
            "vec_id",
            F.coalesce("component", "vec_id").alias("representative"),
        )
        .withColumn("keep", F.col("vec_id") == F.col("representative"))
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 4,
) -> DataFrame:
    """Test-set decontamination: flag training documents that share any
    word n-gram with a benchmark/eval corpus (the standard pre-training
    hygiene pass — benchmark overlap inflates eval scores).

    Scale shape: the benchmark shingle vocabulary is DISTINCT'd (one
    small shuffle — eval sets are bounded) and BROADCAST; training-doc
    shingles are built MAP-SIDE (``_gram_hash_set``: per-doc
    array_distinct + xxhash64 inside codegen, no explode+distinct
    shuffle) and probe the broadcast hash relation with a LEFT join on
    8-byte int64 keys, so the only fact-side shuffle is the final
    per-doc count. Counts are identical to the string-shingle form
    (xxhash64 collisions over a shingle vocabulary: ~|V|²/2⁶⁵)."""
    from fluss_iceberg_spark.operators.util import spread

    hset = _gram_hash_set(text_col, n)
    bench_sh = (
        benchmark.select(F.explode(hset).alias("shingle")).distinct()
        .withColumn("hit", F.lit(1))
    )
    doc_sh = spread(docs).select("doc_id", F.explode(hset).alias("shingle"))
    return (
        doc_sh.join(F.broadcast(bench_sh), on="shingle", how="left")
        .groupBy("doc_id")
        .agg(F.sum("hit").alias("n_shared"))
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0)).cast("int").alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def source_overlap(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    n: int = 6,
) -> DataFrame:
    """Cross-source duplication matrix (the data-mixing diagnostic run
    before choosing corpus weights): for every ordered source pair
    (src_a, src_b), how many of src_a's documents share at least one
    word n-gram with ANY document of src_b, and what fraction of src_a
    that is. High overlap means the sources duplicate each other and
    their mixing weights double-count.

    Scale shape: one inverted-index equi-join on the int64 shingle hash
    — the probe side is (doc, hash) pairs built MAP-SIDE
    (``_gram_hash_set``: per-doc array_distinct + xxhash64 in codegen;
    the source column rides along, so there is no doc_id re-join and no
    string-shingle distinct shuffle), the build side is the DISTINCT
    (hash, source) relation (vocabulary-sized, far smaller than the
    corpus). Per-shingle fanout is bounded by the number of SOURCES (not
    documents), so the classic hot-shingle blowup of doc-level
    self-joins cannot happen; the final distinct+count shuffles carry
    only (doc, src_a, src_b) triples. At 100 TB add a document-frequency
    cap on shingles (drop shingles present in nearly every source —
    they carry no signal) to shrink the build side further."""
    from fluss_iceberg_spark.operators.util import spread

    sh = spread(docs).select(
        "doc_id",
        F.col(group_col).alias("src_a"),
        F.explode(_gram_hash_set(text_col, n)).alias("h"),
    )
    src_sh = sh.select(F.col("src_a").alias("src_b"), "h").distinct()
    hits = (
        sh.join(src_sh, on="h")
        .filter(F.col("src_a") != F.col("src_b"))
        .select("doc_id", "src_a", "src_b")
        .distinct()
    )
    totals = docs.groupBy(F.col(group_col).alias("src_a")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (
        hits.groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .join(totals, on="src_a")
        .select(
            "src_a",
            "src_b",
            F.col("n_overlap").cast("int").alias("n_overlap"),
            (F.col("n_overlap").cast("double") / F.col("n_docs")).alias(
                "frac_overlap"
            ),
        )
    )


def passage_dedup(
    docs: DataFrame, text_col: str = "text", chunk_tokens: int = 20
) -> DataFrame:
    """Passage-level exact dedup (the RefinedWeb/CCNet pattern the
    reference's relational surface implies for a document corpus): split
    every document into consecutive ``chunk_tokens``-token passages, keep
    each distinct passage's FIRST occurrence corpus-wide (ordered by
    doc_id, then position), and reassemble each document from its
    surviving passages.

    Scale design (two shuffles, both on bounded keys):
      1. chunking is a pure map (``slice`` over the token array inside
         whole-stage codegen — no Python, no per-word explode);
      2. the winner-per-passage pass partitions by the passage's 128-bit
         fingerprint (``row_number`` over fp) — the one content-hash
         shuffle every exact dedup needs;
      3. reassembly partitions the KEPT passages by doc_id (duplicate
         text has already been dropped, so this shuffle is the output
         volume, not the input volume).
    At 100 TB the fp shuffle dominates; it hash-balances by construction
    (fingerprints are uniform) and carries each passage exactly once.

    Output: (doc_id, kept_text, n_kept_chunks, n_total_chunks) for every
    input document; fully-duplicated documents survive with kept_text=''.
    """
    from pyspark.sql import Window

    toks = tokens(F.trim(F.col(text_col)))
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    passages = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(toks, (i * chunk_tokens + 1).cast("int"), chunk_tokens), " "
        ),
    )
    chunks = docs.select(
        "doc_id",
        F.posexplode(passages).alias("chunk_idx", "passage"),
    ).withColumn("fp", F.md5(F.col("passage")))
    win = Window.partitionBy("fp").orderBy("doc_id", "chunk_idx")
    kept = (
        chunks.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_idx", "passage"))
                    ),
                    lambda x: x["passage"],
                ),
                " ",
            ).alias("kept_text"),
            F.count(F.lit(1)).cast("int").alias("n_kept_chunks"),
        )
    )
    totals = docs.select(
        "doc_id", F.when(F.size(toks) > 0, n_chunks).otherwise(0).alias("n_total_chunks")
    )
    return totals.join(kept, on="doc_id", how="left").select(
        "doc_id",
        F.coalesce("kept_text", F.lit("")).alias("kept_text"),
        F.coalesce("n_kept_chunks", F.lit(0)).alias("n_kept_chunks"),
        "n_total_chunks",
    )


def substring_duplicate_spans(
    docs: DataFrame,
    window: int = 32,
    stride: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """Exact SUBSTRING duplication census — the "Deduplicating Training
    Data Makes Language Models Better" (Lee et al. 2021) shape, the
    suffix-array pass approximated with overlapping rolling-fingerprint
    windows: every ``window``-token span (sampled every ``stride``
    tokens) fingerprints to md5 of its exact text; spans whose
    fingerprint occurs more than once anywhere in the corpus are
    duplicated substrings — cross-document boilerplate, licenses,
    templated passages — even when the CONTAINING documents are nowhere
    near duplicate (the case doc-level MinHash provably misses).

    Scale design: windowing is a pure map inside whole-stage codegen
    (slice over the token array — no per-word explode), then ONE
    shuffle on the 128-bit fingerprint with map-side partial
    aggregation; output is duplicated-span groups (collision-sized),
    never the corpus. At 100 TB the fp shuffle hash-balances by
    construction and carries each span once — the same profile as
    passage_dedup's winner pass.

    Output: (fp, n_occurrences, n_docs, first_doc, first_start) per
    duplicated span, first = lexicographic min (doc_id, start) — the
    occurrence a removal pass would keep."""
    from fluss_iceberg_spark.operators.text import tokens
    from fluss_iceberg_spark.operators.util import spread

    toks = tokens(F.col(text_col))
    base = spread(docs).select("doc_id", toks.alias("__toks"))
    n = F.size("__toks")
    n_wins = ((n - window) / stride).cast("int") + 1
    # sequence(0, k) is DESCENDING for k < 0 — guard short docs to []
    idx = F.when(n >= window, F.sequence(F.lit(0), n_wins - 1)).otherwise(
        F.array().cast("array<int>")
    )
    spans = base.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda k: F.struct(
                    (k * stride).cast("int").alias("start_tok"),
                    F.md5(
                        F.array_join(
                            F.slice(
                                "__toks", (k * stride + 1).cast("int"), window
                            ),
                            " ",
                        )
                    ).alias("fp"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.start_tok").alias("start_tok"), F.col("s.fp").alias("fp"))
    return (
        spans.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min(F.struct("doc_id", "start_tok")).alias("__first"),
        )
        .filter(F.col("n_occurrences") > 1)
        .select(
            "fp",
            "n_occurrences",
            "n_docs",
            F.col("__first.doc_id").alias("first_doc"),
            F.col("__first.start_tok").alias("first_start"),
        )
    )


def substring_rewrite(
    docs: DataFrame,
    window: int = 32,
    stride: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """The removal half of the Lee et al. 2021 substring-dedup pipeline
    (``substring_duplicate_spans`` is the census half): every duplicated
    ``window``-token span keeps ONLY its first occurrence corpus-wide
    (lexicographic min (doc_id, start_tok) — the same winner the census
    reports), every other occurrence is excised from its document, and
    each document is reassembled from its surviving tokens in original
    order.

    Scale design, same profile as ``passage_dedup``:
      1. span fingerprinting is the census's pure map (slice over the
         token array inside whole-stage codegen, no per-word explode);
      2. ONE shuffle on the 128-bit fingerprint ranks occurrences
         (count + row_number share the fp partitioning — a single
         exchange), keeping rank-1 spans and emitting the rest as
         removals: collision-sized output, never the corpus;
      3. removals group per doc (their volume IS the duplication, not
         the corpus) and join back to the token arrays on doc_id —
         AQE broadcast-plans the collision-sized side; the excision
         itself is an array filter in whole-stage codegen (token i
         survives iff no removed span s covers s ≤ i < s+window —
         per-doc cost |tokens|·|removed spans in that doc|, and a doc
         with no removed spans costs |tokens|·0).

    Overlapping removed spans compose as interval cover, so stride <
    window never double-removes. Every input document survives; a
    fully-duplicated one comes back with kept_text='' .

    Output: (doc_id, kept_text, n_removed_spans, n_kept_tokens,
    n_total_tokens)."""
    from fluss_iceberg_spark.operators.text import tokens
    from fluss_iceberg_spark.operators.util import spread

    from pyspark.sql import Window

    toks = tokens(F.col(text_col))
    base = spread(docs).select("doc_id", toks.alias("__toks"))
    n = F.size("__toks")
    n_wins = ((n - window) / stride).cast("int") + 1
    idx = F.when(n >= window, F.sequence(F.lit(0), n_wins - 1)).otherwise(
        F.array().cast("array<int>")
    )
    spans = base.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda k: F.struct(
                    (k * stride).cast("int").alias("start_tok"),
                    F.md5(
                        F.array_join(
                            F.slice(
                                "__toks", (k * stride + 1).cast("int"), window
                            ),
                            " ",
                        )
                    ).alias("fp"),
                ),
            )
        ).alias("s"),
    ).select(
        "doc_id",
        F.col("s.start_tok").alias("start_tok"),
        F.col("s.fp").alias("fp"),
    )
    wfp = Window.partitionBy("fp")
    wrank = Window.partitionBy("fp").orderBy("doc_id", "start_tok")
    removals = (
        spans.withColumn("cnt", F.count(F.lit(1)).over(wfp))
        .withColumn("rn", F.row_number().over(wrank))
        .filter((F.col("cnt") > 1) & (F.col("rn") > 1))
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list("start_tok")).alias("__starts"),
            F.count(F.lit(1)).cast("int").alias("n_removed_spans"),
        )
    )
    covered = lambda i: F.exists(  # noqa: E731 — shared by filter+doc
        "__starts", lambda s: (s <= i) & (i < s + window)
    )
    return (
        base.join(removals, on="doc_id", how="left")
        .withColumn(
            "__starts", F.coalesce("__starts", F.array().cast("array<int>"))
        )
        .withColumn(
            "__kept", F.filter("__toks", lambda tok, i: ~covered(i))
        )
        .select(
            "doc_id",
            F.array_join("__kept", " ").alias("kept_text"),
            F.coalesce("n_removed_spans", F.lit(0)).alias("n_removed_spans"),
            F.size("__kept").alias("n_kept_tokens"),
            F.size("__toks").alias("n_total_tokens"),
        )
    )


def semdedup(
    emb: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.9,
    n_iters: int = 4,
    dim: int = 64,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup at
    corpus scale without an all-pairs cosine pass. K-means partitions the
    embedding space (distributed Lloyd, ``similarity.kmeans_fit``); the
    pairwise keep/drop decision then runs ONLY within each cluster —
    total cost Σ cluster_size² FLOPs instead of n², with clusters sized
    n/K and processed in parallel.

    Within a cluster the decision is deterministic greedy: scan vectors
    in vec_id order, keep a vector iff its max cosine to every
    already-kept vector is < threshold; dropped vectors record the kept
    vector that excluded them as ``representative``. The kernel is one
    Arrow-batched applyInPandas per cluster — BLAS matvec per step, no
    row-at-a-time Python.

    Output: (vec_id, cluster_id, keep, representative).
    """
    import pandas as pd

    from fluss_iceberg_spark.operators.similarity import (
        _as_double,
        _assign_clusters,
        kmeans_fit,
    )

    model = kmeans_fit(emb, n_clusters=n_clusters, n_iters=n_iters, dim=dim)
    v = _as_double(emb)
    assigned = _assign_clusters(v, model, dim).select(
        "vec_id", "v", F.col("cid").alias("cluster_id")
    )

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        X = np.vstack(pdf["v"].to_numpy()).astype("float64")
        X = X / np.linalg.norm(X, axis=1, keepdims=True)
        ids = pdf["vec_id"].to_numpy()
        kept_idx: list[int] = []
        keep = np.zeros(len(pdf), dtype=bool)
        rep = ids.copy()
        for i in range(len(pdf)):
            if kept_idx:
                sims = X[kept_idx] @ X[i]
                j = int(sims.argmax())
                if sims[j] >= threshold:
                    rep[i] = ids[kept_idx[j]]
                    continue
            keep[i] = True
            kept_idx.append(i)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster_id": pdf["cluster_id"].to_numpy(),
                "keep": keep,
                "representative": rep,
            }
        )

    return assigned.groupBy("cluster_id").applyInPandas(
        _greedy,
        "vec_id long, cluster_id long, keep boolean, representative long",
    )


def band_keys(sig: DataFrame) -> DataFrame:
    """(doc_id, bkey) — a doc's 16 LSH bucket keys, band id baked into
    the key so buckets never collide across bands. Map-side (the
    signature frame is already map-side); the bucket key is the join
    key of the streaming admission state table — a multi-owner LOG
    table (declaring it PK-on-bkey would turn the appends into
    last-write-wins and evict earlier owners of shared buckets).

    Band b's key is
    ``"{b}:{xxhash64(h[4b], h[4b+1], h[4b+2], h[4b+3])}"`` — the exact
    byte form is golden-pinned in tests/test_stream_neardup.py (state
    tables persist these keys across engine versions)."""
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(b),
                        F.xxhash64(
                            *[
                                F.col(f"h{b * ROWS_PER_BAND + r}")
                                for r in range(ROWS_PER_BAND)
                            ]
                        ).cast("string"),
                    )
                    for b in range(BANDS)
                ]
            )
        ).alias("bkey"),
    )


def neardup_admit_batch(
    buckets,
    owner_sets,
    admitted,
    batch_docs: DataFrame,
    batch_id: int,
    threshold: float = 0.8,
    profile: dict | None = None,
) -> int:
    """One micro-batch of STREAMING near-duplicate admission control —
    the ingestion-time form of MinHash-LSH dedup (a crawl pipeline
    admits the first copy and drops later near-copies, without ever
    re-clustering the corpus):

    1. batch docs compute shingle sets + banded signatures map-side;
    2. bucket collisions against the ADMITTED state (a multi-owner LOG
       lake table of bucket → owner rows) propose candidates,
       exact-verified by Jaccard
       against the owners' stored shingle sets — first-seen wins;
    3. survivors dedup within the batch (banded candidates → exact
       verify → connected components, min doc_id per cluster admits);
    4. admitted docs append their shingle sets and ALL 16 of their
       bucket keys (multi-owner buckets: claiming only unowned keys
       would let a doc whose keys are pre-owned by DISSIMILAR docs go
       unindexed, and later near-copies of it would slip through).

    Scale shape, stated honestly: admission never re-CLUSTERS or
    pairwise-rescans the admitted corpus — per-batch comparison work is
    O(batch + colliding pairs). The bucket-state READ is pruned to the
    batch's own key set: the batch's bucket keys (16/doc, micro-batch-
    bounded, collected driver-side) push down as an IN predicate, and
    each state file's manifest bloom filter over ``bkey``
    (``write.bloom-columns``, sized to the file's distinct count)
    proves non-colliding files hold no probed key — so the per-tick
    scan is O(files with a true collision + bloom false positives),
    FLAT as the admitted corpus grows, instead of O(admitted state).
    The probe engages from a state-file-count threshold (an adaptive
    planner call from manifest metadata): a young files-few state is
    cheaper to scan whole than to probe.
    The probe itself is metadata-only (manifest blooms on the driver,
    zero data I/O for skipped files). At the extreme (batch key sets
    beyond driver-collect size), the lookup becomes the hot store's
    key-value read (the Fluss role) — the documented deployment
    boundary. Returns the number of admitted docs (a driver-sized
    count).
    """
    # every persisted per-batch frame registers here so the finally
    # below releases them even when a mid-tick action fails (executor
    # loss, OOM) — a long-running admission stream must not accumulate
    # cached frames across ticks under ANY exit path
    cached: list = []
    checkpointed: list = []

    def _persist(df):
        cached.append(df.persist())
        return df

    def _checkpoint(df):
        """Eager localCheckpoint: materialize AND truncate lineage. The
        minhash lineage is a ~500-node expression tree that costs ~0.5-
        0.8 s of driver-side Catalyst analysis+optimization on EVERY
        downstream action that re-plans it (measured; a tick takes ~6
        such actions) — a plain persist dedups the execution but not
        the per-action planning. Checkpointed batches are micro-batch-
        sized; blocks are released in the finally below. Trade-off,
        stated: lineage truncation forfeits recompute-on-executor-loss
        for this tick — the stream's retry unit is the micro-batch
        (the pipeline replays the tick), so recovery moves up one
        level, it doesn't disappear."""
        cp = df.localCheckpoint(eager=True)
        checkpointed.append(cp)
        return cp

    # optional per-phase wall-clock attribution (a populated dict opts
    # in): each _mark forces the frames named in the phase and records
    # the elapsed seconds. OFF by default — forcing changes nothing
    # semantically (frames are persisted) but shifts where lazy work is
    # measured, so the production path stays fully lazy.
    import time as _time

    _t0 = [_time.perf_counter()]

    def _mark(phase: str, *force):
        if profile is None:
            return
        for df in force:
            df.count()
        now = _time.perf_counter()
        profile[phase] = profile.get(phase, 0.0) + (now - _t0[0])
        _t0[0] = now

    # sets_b persists lazily (its tree is one higher-order expression —
    # cheap to re-plan); bands_b checkpoints EAGERLY, materializing both
    # in one job and truncating the ~500-node minhash lineage that every
    # downstream action would otherwise re-analyze (see _checkpoint)
    sets_b = _persist(shingle_sets(batch_docs))
    bands_b = _checkpoint(band_keys(minhash_signatures(sets_b)))
    _mark("shingle_minhash", bands_b)

    def _n_files(t) -> int:
        snap = t.snapshot()
        return len(snap.files) if snap is not None else 0

    try:
        # The state prunings below pay a driver-side probe (collect the
        # batch's keys, test each file's manifest bloom). That wins when
        # the state spans many files and most hold no probed key; on a
        # files-few young table the probe costs more than the full scan it
        # replaces. Engage pruning from a file-count threshold — the same
        # adaptive call a cost-based planner makes, decided from manifest
        # metadata only.
        _PRUNE_FROM_FILES = 16

        # (a) first-seen-wins vs the admitted state, pruned to the batch's
        # key set — prune_only: the equi-join below IS the exact check, so
        # surviving files skip the (large) IN-list row filter entirely
        if _n_files(buckets) > _PRUNE_FROM_FILES:
            probe_keys = [
                r.bkey for r in bands_b.select("bkey").distinct().collect()
            ]
            state = buckets.read(
                where=[("bkey", "in", probe_keys)], prune_only=True
            )
        else:
            state = buckets.read()
        # the batch side is micro-batch-bounded BY DESIGN (the same bound
        # that makes its key set driver-collectable) — broadcast it so
        # the admitted-state side NEVER shuffles, per tick, at any corpus
        # size, without an AQE discovery round
        cand_ext = (
            F.broadcast(bands_b).join(state, on="bkey")
            .select(F.col("owner").alias("d1"), F.col("doc_id").alias("d2"))
            .distinct()
        )
        # the owners' shingle-set state prunes the same way: only colliding
        # owners' sets are needed for the exact verify, and the collision
        # set is collision-sized (driver-safe) — min/max + bloom skipping on
        # doc_id keeps the per-tick set read O(colliding files), not
        # O(admitted corpus). cand_ext is persisted only on this path (the
        # collect + verify reuse it); unpruned ticks keep it lazy.
        if _n_files(owner_sets) > _PRUNE_FROM_FILES:
            cand_ext = _persist(cand_ext)
            owner_ids = [r.d1 for r in cand_ext.select("d1").distinct().collect()]
            owner_state = owner_sets.read(
                where=[("doc_id", "in", owner_ids)], prune_only=True
            )
        else:
            owner_state = owner_sets.read()
        # no .distinct(): the left_anti below treats one rejecting owner
        # and five alike, and the exchange it would cost is pure waste
        rejected = _verify_candidates(
            owner_state, cand_ext, threshold, right_sets=sets_b,
            broadcast_cand=True,
        ).select(F.col("d2").alias("doc_id"))
        survivors = _persist(
            sets_b.join(F.broadcast(rejected), on="doc_id", how="left_anti")
        )
        _mark("state_probe_verify", survivors)

        # (b) intra-batch: banded candidates among survivors, exact verify,
        # min-id per connected component admits — every frame here is
        # batch-bounded, so every join is hinted map-side
        bands_s = bands_b.join(
            F.broadcast(survivors.select("doc_id")), on="doc_id", how="left_semi"
        )
        cand_in = (
            bands_s.select(F.col("doc_id").alias("d1"), "bkey")
            .join(
                F.broadcast(bands_s.select(F.col("doc_id").alias("d2"), "bkey")),
                on="bkey",
            )
            .filter(F.col("d1") < F.col("d2"))
            .select("d1", "d2")
            .distinct()
        )
        verified = _verify_candidates(
            survivors, cand_in, threshold, broadcast_cand=True
        )
        # ONE merged action replaces {CC edge-collect, admit.count()}:
        # survivor ids and verified edges come back in the same job
        # (survivor ids are micro-batch-bounded — strictly smaller than
        # the 16-per-doc probe-key collect above), the min-label
        # union-find runs on the driver exactly as connected_components'
        # small-graph fast path does (admission edge sets are
        # collision-sized, far under its 2M bound), and n_admitted falls
        # out as a length — no separate count job, no broadcast
        # anti-join. This was the last shaveable action of the per-tick
        # floor (SCALE.md r8/r9 admission records).
        id_type = survivors.schema["doc_id"].dataType
        rows = (
            survivors.select(
                F.col("doc_id").alias("a"),
                F.lit(None).cast(id_type).alias("b"),
            )
            .unionByName(
                verified.select(F.col("d1").alias("a"), F.col("d2").alias("b"))
            )
            .collect()
        )
        parent: dict = {}

        def _find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        surv_ids: list = []
        for r in rows:
            if r.b is None:
                surv_ids.append(r.a)
                continue
            parent.setdefault(r.a, r.a)
            parent.setdefault(r.b, r.b)
            ra, rb = _find(r.a), _find(r.b)
            if ra != rb:
                # union by min so the representative IS the min label —
                # min doc_id per component admits, everyone else loses
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        losers = {x for x in parent if _find(x) != x}

        # (c) claim state: sets for future verification; EVERY admitted
        # doc's bucket keys append (multi-owner buckets — see docstring)
        n_admitted = len(surv_ids) - len(losers)
        admit = (
            _persist(survivors.filter(~F.col("doc_id").isin(list(losers))))
            if losers
            else survivors
        )
        _mark("intra_batch_cc")
        if n_admitted:
            # COALESCED state writes: the claim frames arrive in 32
            # shuffle partitions, so a naive append writes 32 files of
            # ~100 rows per tick — after 20 ticks the state spans 600+
            # splinter files, each carrying its own manifest entry,
            # bloom, and probe test (measured: scan planning alone grew
            # per-tick time 5.6→8.1 s over 13 ticks). Pack each tick's
            # state into files of ~200k rows (tiny frames → exactly one
            # file per table per tick): fewer manifest entries, fewer
            # blooms to probe, and per-file distinct counts the bloom
            # sizing serves well — the same small-files discipline the
            # tiering compactor applies to data tables.
            import math as _math
            import os as _os

            claim_files = max(1, _math.ceil(n_admitted * 16 / 200_000))
            sets_df = admit.select("doc_id", "shset", "n").coalesce(claim_files)
            bucket_df = (
                bands_b.join(
                    admit.select("doc_id"), on="doc_id", how="left_semi"
                )
                .select("bkey", F.col("doc_id").alias("owner"))
                .coalesce(claim_files)
            )
            adm_df = admit.select(
                "doc_id", F.lit(batch_id).cast("int").alias("batch")
            ).coalesce(claim_files)
            # ONE atomic claim commit: the three state tables publish
            # together under a single CatalogTransaction (one lock
            # acquisition + one pointer-flip round instead of three
            # full commits per tick — measured ~0.8 s/tick as three).
            # Atomicity also closes a replay seam: a crash between the
            # owner-set and bucket appends can no longer leave a doc
            # verified-against but unindexed. Falls back to per-table
            # commits when the state tables live in different catalogs.
            whs = {
                _os.path.dirname(t.path)
                for t in (owner_sets, buckets, admitted)
            }
            if len(whs) == 1:
                from concurrent.futures import ThreadPoolExecutor

                from fluss_iceberg_spark.lake.table import LakeCatalog

                cat = LakeCatalog(batch_docs.sparkSession, whs.pop())
                with cat.transaction() as txn:
                    # the three staged writes are independent Spark jobs
                    # over already-materialized frames — submit them
                    # concurrently (each thread stages its OWN table;
                    # the txn publishes all three together afterwards)
                    targets = [
                        (txn.table(owner_sets.name), sets_df),
                        (txn.table(buckets.name), bucket_df),
                        (txn.table(admitted.name), adm_df),
                    ]
                    with ThreadPoolExecutor(3) as pool:
                        list(pool.map(lambda p: p[0].append(p[1]), targets))
            else:
                owner_sets.append(sets_df)
                buckets.append(bucket_df)
                admitted.append(adm_df)
        _mark("claim_appends")
    finally:
        # a long-running admission stream calls this every tick — cached
        # per-batch frames must not accumulate in executor storage
        for df in cached:
            df.unpersist()
        for df in checkpointed:
            release_checkpoint(df)
    return n_admitted


def _cdc_chunk_kernel(window: int, divisor: int, base: int, mod: int):
    """Arrow-batched CDC kernel factory: per doc, every 16-char window's
    polynomial hash via ONE numpy sliding-window dot (codes < 2^21,
    powers < 2^20, 16 terms → < 2^46, exact in int64 — no modular
    juggling needed before the final %), cut mask, chunk slicing, md5.
    Bit-identical to the SQL replay's Horner fold by the distributive
    law: Horner((acc·B + c) % M) == (Σ c_j·B^(w-1-j)) % M."""
    import hashlib

    import numpy as np
    import pandas as pd

    pw = np.array(
        [pow(base, window - 1 - j, mod) for j in range(window)],
        dtype=np.int64,
    )

    def _kernel(batch_iter):
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in batch_iter:
            ids, idxs, starts, lens, fps = [], [], [], [], []
            for doc_id, t in zip(pdf["doc_id"], pdf["t"]):
                n = len(t)
                if n < 1:
                    continue
                ends = {n}
                if n >= window:
                    c = np.frombuffer(
                        t.encode("utf-32-le"), dtype=np.uint32
                    ).astype(np.int64)
                    h = (sliding_window_view(c, window) * pw).sum(axis=1) % mod
                    # window starting at 0-based k cuts after char k+window
                    ends.update((np.nonzero(h % divisor == 0)[0] + window).tolist())
                start = 1
                for k, end in enumerate(sorted(ends)):
                    ids.append(doc_id)
                    idxs.append(k)
                    starts.append(start)
                    lens.append(end - start + 1)
                    fps.append(
                        hashlib.md5(t[start - 1 : end].encode()).hexdigest()
                    )
                    start = end + 1
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "chunk_idx": pd.Series(idxs, dtype="int32"),
                    "start_pos": pd.Series(starts, dtype="int32"),
                    "chunk_len": pd.Series(lens, dtype="int32"),
                    "fp": pd.Series(fps, dtype="object"),
                }
            )

    return _kernel


def cdc_chunks(
    docs: DataFrame,
    text_col: str = "text",
    window: int = 16,
    divisor: int = 64,
    base: int = 257,
    mod: int = 1_000_003,
) -> DataFrame:
    """Content-defined chunking (the LBFS/rsync/FastCDC primitive):
    chunk boundaries are set by the CONTENT — a cut lands after any
    16-char window whose polynomial rolling hash is ≡ 0 (mod
    ``divisor``) — so inserting or deleting bytes early in a document
    only perturbs chunk boundaries until the next hash sync point,
    unlike fixed-offset chunking where one insertion shifts and breaks
    EVERY downstream chunk fingerprint. That shift-robustness is why
    dedup stores chunk this way; here it completes the dedup family's
    granularity ladder: doc-level (exact), passage-level (fixed
    windows), substring-level (fixed 40-grams), and now
    boundary-synchronized variable chunks.

    Arithmetic: h(i) = Σ_j code(c_{i+j})·B^(w-1-j) mod 1000003 — pure
    int64, bit-identical to the oracle's Horner fold; the fingerprint
    census (how many docs share each chunk) is an exact groupBy.

    Scale shape: hashing + slicing + md5 run in ONE Arrow-batched
    kernel (numpy sliding-window dot per doc — a first interpreted
    higher-order-function form measured 10x slower at sf0.1), zero
    shuffle; the ONLY exchanges are the fingerprint census groupBy and
    its join back — the irreducible dedup exchange, balanced because
    md5 keys are uniform."""
    ch = cdc_chunk_rows(docs, text_col, window, divisor, base, mod)
    census = ch.groupBy("fp").agg(
        F.countDistinct("doc_id").alias("n_docs_sharing")
    )
    return ch.join(census, on="fp").select(
        "doc_id", "chunk_idx", "start_pos", "chunk_len", "fp", "n_docs_sharing"
    )


def cdc_chunk_rows(
    docs: DataFrame,
    text_col: str = "text",
    window: int = 16,
    divisor: int = 64,
    base: int = 257,
    mod: int = 1_000_003,
) -> DataFrame:
    """The per-document half of ``cdc_chunks``: chunk rows (doc_id,
    chunk_idx, start_pos, chunk_len, fp) from the vectorized rolling-
    hash kernel, no census. Pure per-doc map — the streaming census
    maintainer runs THIS per micro-batch and merges counts additively
    (each doc's chunks land wholly inside its batch)."""
    from fluss_iceberg_spark.operators.util import spread

    d = spread(docs).select("doc_id", F.col(text_col).alias("t")).filter(
        F.length("t") >= 1
    )
    return d.mapInPandas(
        _cdc_chunk_kernel(window, divisor, base, mod),
        "doc_id long, chunk_idx int, start_pos int, chunk_len int, fp string",
    )


def leakage_safe_split(
    docs: DataFrame,
    holdout_pct: int = 10,
    text_col: str = "text",
    salt: str = "split-v1",
) -> DataFrame:
    """Leakage-safe train/holdout split: the evaluation-hygiene step of
    a training-data pipeline. A naive per-doc hash split leaks — a
    duplicated document lands in BOTH sides and the eval set scores
    memorization; here the split decision is made ONCE per
    duplicate-group (md5 of normalized text, the exact-dedup
    fingerprint) keyed on the group REPRESENTATIVE (min doc_id), so
    every copy of a text falls on the same side by construction.
    Deterministic md5 bucketing (``holdout_pct``/100 of groups) — no
    RNG, reproducible across runs/engines.

    Scale shape: one fingerprint groupBy (distinct-texts rows) and one
    join back on fp — the irreducible dedup exchange, md5-balanced; the
    split decision itself is a map-side hash of the representative."""
    f = docs.select(
        "doc_id", F.md5(normalize(F.col(text_col))).alias("fp")
    )
    g = f.groupBy("fp").agg(
        F.min("doc_id").alias("rep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.lit(salt), F.col("rep_doc_id").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    return f.join(g, on="fp").select(
        "doc_id",
        "rep_doc_id",
        "n_copies",
        F.when(bucket < holdout_pct, F.lit("holdout"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def cdc_rewrite(
    docs: DataFrame,
    text_col: str = "text",
    window: int = 16,
    divisor: int = 64,
    base: int = 257,
    mod: int = 1_000_003,
) -> DataFrame:
    """Chunk-level duplication REMOVAL (the Lee et al. 2022 rewrite at
    content-defined granularity): every occurrence of a chunk
    fingerprint except the globally FIRST (min doc_id, then chunk_idx)
    is dropped, and each document is rebuilt from its surviving chunks
    in order — the actionable half of ``cdc_chunks``' census, robust to
    the boundary shifts that break fixed-offset span removal. Returns
    (doc_id, n_chunks, n_kept, rebuilt_len, rebuilt_fp) — the rebuilt
    text is summarized by md5 + length so the gated row stays narrow
    while still pinning every byte of the rewrite.

    Scale shape: chunking is the Arrow kernel (zero shuffle); the
    keep/drop decision is ONE window over fp (the same md5-balanced
    exchange as the census); the rebuild joins surviving spans back to
    the text on doc_id and concatenates in-plan (sorted struct array →
    substr chain, JVM-side) — no per-chunk text is ever shuffled, only
    (fp, doc_id, positions)."""
    from pyspark.sql import Window

    d = docs.select("doc_id", F.col(text_col).alias("t")).filter(
        F.length("t") >= 1
    )
    ch = cdc_chunk_rows(docs, text_col, window, divisor, base, mod)
    w = Window.partitionBy("fp").orderBy("doc_id", "chunk_idx")
    kept = (
        ch.withColumn("occ", F.row_number().over(w))
        .filter(F.col("occ") == 1)
        .select("doc_id", "chunk_idx", "start_pos", "chunk_len")
    )
    spans = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sort_array(
            F.collect_list(F.struct("chunk_idx", "start_pos", "chunk_len"))
        ).alias("spans"),
    )
    totals = ch.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_chunks"))
    rebuilt = F.array_join(
        F.transform(
            F.col("spans"),
            lambda s: F.substr(F.col("t"), s.start_pos, s.chunk_len),
        ),
        "",
    )
    return (
        d.join(totals, on="doc_id")
        .join(spans, on="doc_id", how="left")
        .select(
            "doc_id",
            F.col("n_chunks").cast("int").alias("n_chunks"),
            F.coalesce("n_kept", F.lit(0)).cast("int").alias("n_kept"),
            F.length(
                F.when(F.col("spans").isNull(), F.lit("")).otherwise(rebuilt)
            ).cast("int").alias("rebuilt_len"),
            F.md5(
                F.when(F.col("spans").isNull(), F.lit("")).otherwise(rebuilt)
            ).alias("rebuilt_fp"),
        )
    )
