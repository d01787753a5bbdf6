"""Plan-shape tests for the round-2 rewrites: the scale properties the
rewrites were built for must be visible in the physical plan (a regression
back to the shuffle-heavy / driver-collect shapes fails here)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fluss_iceberg_spark import registry
from fluss_iceberg_spark.operators import dedup as DD
from fluss_iceberg_spark.plans.checks import count_nodes, physical_plan
from fluss_iceberg_spark.sources.tpch import load_table

SF = "/root/testdata/sf0.001"
registry.load_all()


def test_simhash_fingerprints_zero_key_shuffle(spark):
    """Fingerprints are computed map-side (token-hash array → Arrow
    kernel): no KEY-based exchange anywhere in the plan — the former
    shape exploded every token through a doc-keyed shuffle. The only
    exchange allowed is ``spread()``'s guarded ROUND-ROBIN repartition
    (parallelism recovery over an under-split scan; a no-op at scale),
    which moves each raw row once and never hashes a key."""
    docs = load_table(spark, SF, "documents")
    df = DD.simhash_fingerprints(docs)
    plan = physical_plan(df)
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert count_nodes(df, "Exchange") <= 1  # roundrobin spread only
    assert "MapInPandas" in plan


def test_simhash_near_pairs_runs_kernel_once(spark):
    """Both sides of the chunk self-join read one hash exchange: after an
    action the final AQE plan holds a single MapInPandas, and the other
    join side is a ReusedExchange of it — the tokenize + hash + kernel
    pipeline runs in one stage, not one per side."""
    df = DD.simhash_near_pairs(load_table(spark, SF, "documents"), 3)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert final.count("MapInPandas") == 1
    assert "ReusedExchange" in final


def test_ahash_near_pairs_reuses_the_fingerprint_exchange(spark):
    """With no cached fingerprint frame, the three doc-level subtrees of
    ahash_near_pairs read one reused exchange: the final AQE plan holds
    two aHash kernels (that exchange and the vocabulary's pruned copy),
    not one per subtree."""
    df = registry.QUERIES["multimodal_ahash_neardup_pairs"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert final.count("MapInPandas") == 2
    assert "ReusedExchange" in final


def test_simhash_kernel_matches_rowwise_reference(spark):
    """The vectorized bit-vote kernel must equal a straightforward per-doc
    Python reference on the same token hashes (guards the reduceat /
    uint64-packing math, incl. bit 63 sign handling)."""
    docs = load_table(spark, SF, "documents").limit(50)
    th = docs.select(
        "doc_id",
        F.transform(
            F.filter(F.split(F.trim("text"), r"\s+"), lambda t: t != F.lit("")),
            lambda t: F.xxhash64(t),
        ).alias("th"),
    ).collect()
    expected = {}
    for r in th:
        if not r.th:
            continue
        votes = [0] * 64
        for h in r.th:
            u = h & 0xFFFFFFFFFFFFFFFF
            for i in range(64):
                votes[i] += 1 if (u >> i) & 1 else -1
        fp = 0
        for i in range(64):
            if votes[i] > 0:
                fp |= 1 << i
        if fp >= 1 << 63:
            fp -= 1 << 64  # two's-complement int64, as the JVM/Arrow sees it
        expected[r.doc_id] = fp
    got = {
        r.doc_id: r.simhash
        for r in DD.simhash_fingerprints(docs).collect()
    }
    assert got == expected


def test_embedding_near_pairs_no_driver_collect(spark):
    """The block-matrix plan must contain the cogroup kernel and no
    broadcast of the full vector table (the r01 shape collected it to the
    driver); candidate verification joins are fine."""
    emb = load_table(spark, SF, "embeddings")
    df = DD.embedding_near_pairs(emb, 0.45)
    plan = physical_plan(df)
    assert "FlatMapCoGroupsInPandas" in plan


def test_embedding_block_plan_matches_single_block(spark):
    """Pair results are independent of the blocking factor: many small
    blocks and one big block must produce identical pair sets."""
    emb = load_table(spark, SF, "embeddings")
    one = {
        (r.id_a, r.id_b, r.cosine)
        for r in DD.embedding_near_pairs(emb, 0.45, block_rows=10_000_000).collect()
    }
    many = {
        (r.id_a, r.id_b, r.cosine)
        for r in DD.embedding_near_pairs(emb, 0.45, block_rows=16).collect()
    }
    assert one == many
    assert len(one) > 0


def test_union_read_pk_shuffle_bounded_by_hot(spark, tmp_path):
    """PK union read with small hot: the hot key set is broadcast (anti +
    semi), cold rows without a hot match flow to the output with NO
    shuffle, and every shuffle exchange in the plan is hot-bounded (the
    window over hot ∪ contested-cold, plus the hot-key dedup). The result
    set must be identical to the full-shuffle fallback plan."""
    from fluss_iceberg_spark.lake.table import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t = cat.create_table("pk_plan", base.schema, primary_key=["k"], n_buckets=4)
    t.merge(base)
    t.write_hot_batch(
        base.filter(F.col("k") < 10).withColumn("v", F.col("v") + 1), batch_id=1
    )
    df = t.union_read()
    plan = physical_plan(df)
    assert count_nodes(df, "BroadcastHashJoin") == 2  # anti + semi on hot keys
    # shuffles: hot-key dedup (≤2, once per broadcast) + the bounded window
    assert count_nodes(df, "Exchange") <= 3
    broadcast_result = {(r.k, r.v) for r in df.collect()}

    # forced fallback (tiering stalled / giant hot): single full shuffle
    t._HOT_BROADCAST_MAX_BYTES = 0
    df_fb = t.union_read()
    assert count_nodes(df_fb, "Exchange") == 1
    assert "Join" not in physical_plan(df_fb)
    assert {(r.k, r.v) for r in df_fb.collect()} == broadcast_result
    assert broadcast_result == {
        (k, k * 2 + 1 if k < 10 else k * 2) for k in range(100)
    }


def test_pii_scrub_zero_key_shuffle(spark):
    """PII scrub is a pure map-side expression pipeline — no KEY-based
    exchange; spread()'s guarded round-robin repartition over an
    under-split scan is allowed (no-op at scale)."""
    from fluss_iceberg_spark.operators import text as TX

    df = TX.pii_scrub(load_table(spark, SF, "documents"))
    plan = physical_plan(df)
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert count_nodes(df, "Exchange") <= 1  # roundrobin spread only


def test_stratified_sample_zero_shuffle(spark):
    """The sampling decision rides the scan — no exchange anywhere."""
    from fluss_iceberg_spark.operators import text as TX

    df = TX.stratified_sample(
        load_table(spark, SF, "documents"), {"en": 50, "de": 20}
    )
    assert count_nodes(df, "Exchange") == 0


def test_pack_sequences_single_shard_exchange(spark):
    """Packing parallelizes per shard: exactly one hash exchange on the
    shard key (never a global single-partition sort)."""
    from fluss_iceberg_spark.operators import text as TX

    df = TX.pack_sequences(load_table(spark, SF, "documents"), 2048)
    assert count_nodes(df, "Exchange") == 1
    plan = physical_plan(df)
    assert "SinglePartition" not in plan


def test_q2_single_fact_scan(spark):
    """Q2's correlated-MIN decorrelation must read lineitem once: the
    window-MIN rewrite keeps one scan + two exchanges; a self-join
    decorrelation (two fact scans) fails here."""
    from fluss_iceberg_spark.workloads.tpch2 import q2

    df = q2(spark, SF)
    plan = physical_plan(df)
    assert plan.count("lineitem.parquet") == 1
    assert "TakeOrderedAndProject" in plan


def test_repetition_two_key_shuffles(spark):
    """Both gram sizes ride one tagged explode: exactly two KEY-based
    exchanges ((doc, gram) count then per-doc conditional agg) — a per-n
    pipeline would double that. ``spread()``'s guarded round-robin
    repartition over the under-split scan is allowed on top (no-op at
    scale, never a key shuffle)."""
    from fluss_iceberg_spark.operators import text as TX

    df = TX.repetition_features(load_table(spark, SF, "documents"))
    plan = physical_plan(df)
    assert plan.count("hashpartitioning") == 2
    assert count_nodes(df, "Exchange") <= 3  # + the roundrobin spread


def test_repetition_matches_python_reference(spark):
    """Signal values equal a straightforward Python recomputation."""
    from collections import Counter

    from fluss_iceberg_spark.operators import text as TX

    docs = load_table(spark, SF, "documents").limit(20)
    got = {r.doc_id: r for r in TX.repetition_features(docs).collect()}
    for row in docs.collect():
        toks = row.text.strip().split()
        g2 = Counter(" ".join(toks[i : i + 2]) for i in range(len(toks) - 1))
        g3 = Counter(" ".join(toks[i : i + 3]) for i in range(len(toks) - 2))
        r = got[row.doc_id]
        assert r.n_tokens == len(toks)
        assert abs(r.distinct_frac - len(set(toks)) / len(toks)) < 1e-12
        assert abs(r.top2gram_frac - max(g2.values()) / sum(g2.values())) < 1e-12
        assert abs(r.top3gram_frac - max(g3.values()) / sum(g3.values())) < 1e-12


def test_decontaminate_broadcast_no_fact_side_join_shuffle(spark):
    """The benchmark shingle vocabulary must reach the probe side as a
    broadcast: the only hash exchange in the plan is the final per-doc
    aggregate (plus the benchmark-side distinct), never a fact-side
    sort-merge join."""
    from fluss_iceberg_spark.operators import dedup as DDx

    docs = load_table(spark, SF, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    df = DDx.decontaminate(docs, bench)
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_decontaminate_self_benchmark_all_contaminated(spark):
    """Decontaminating a corpus against itself flags every doc that has
    at least one shingle (each shares all its shingles with itself)."""
    from fluss_iceberg_spark.operators import dedup as DDx

    docs = load_table(spark, SF, "documents")
    out = DDx.decontaminate(docs, docs)
    assert out.filter(~F.col("contaminated")).count() == 0
    assert out.count() == docs.count()


def _final_plan(df) -> str:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    return final


def test_unigram_single_corpus_scan(spark):
    """The unigram LM must derive vocabulary counts and per-doc scores
    from one per-(doc, word) reduction — never scan + explode the corpus
    once per branch: after an action the final AQE plan scans the corpus
    once, and the second branch reads the reduction's reused exchange."""
    from fluss_iceberg_spark.operators import text as TX

    final = _final_plan(TX.unigram_scores(load_table(spark, SF, "documents")))
    assert final.count("FileScan parquet") == 1
    assert "ReusedExchange" in final


@pytest.mark.parametrize(
    "name",
    [
        "text_unigram_lm_score",
        "text_bigram_coherence",
        "text_perplexity_filter",
        "tpch_q11_important_stock",
    ],
)
def test_diamond_queries_reuse_the_shared_exchange(spark, name):
    """Each of these queries reads one aggregate from two branches. The
    branches share it through an exchange that AQE reuses, not through a
    cache: the final plan holds a ReusedExchange and no InMemoryTableScan."""
    final = _final_plan(registry.QUERIES[name](spark, SF))
    assert "ReusedExchange" in final
    assert "InMemoryTableScan" not in final


def test_budget_select_single_key_exchange(spark):
    """Token-budget curation: quality features are map-side; the only
    KEY-based exchange is the window's hash partitioning on the group
    key (plus spread()'s optional round-robin over the scan)."""
    from fluss_iceberg_spark.operators import text as TX

    docs = load_table(spark, SF, "documents")
    df = TX.budget_select(docs, 2000)
    plan = physical_plan(df)
    assert plan.count("hashpartitioning") == 1
    assert count_nodes(df, "Exchange") <= 2
    assert "Window" in plan


def test_embedding_hygiene_zero_exchange(spark):
    """Vector hygiene rides the scan: no exchange, no join."""
    from fluss_iceberg_spark.operators import similarity as SIM

    emb = load_table(spark, SF, "embeddings")
    df = SIM.embedding_hygiene(emb)
    assert count_nodes(df, "Exchange") == 0


def test_changelog_scans_only_changed_buckets(spark):
    """CDC diff: a merge touching one bucket leaves the other buckets'
    file sets identical — the changelog plan must read only the changed
    bucket's files (bucket pruning happens before the plan is built)."""
    import tempfile

    from pyspark.sql import types as T

    from fluss_iceberg_spark.lake.table import LakeCatalog

    schema = T.StructType(
        [
            T.StructField("k", T.IntegerType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    with tempfile.TemporaryDirectory() as d:
        t = LakeCatalog(spark, d).create_table(
            "cdcplan", schema, primary_key=["k"], n_buckets=8
        )
        t.merge(spark.createDataFrame([(i, f"v{i}") for i in range(64)], schema))
        t.merge(spark.createDataFrame([(5, "changed")], schema))
        # white-box: the diff must plan over ONE changed bucket's files,
        # not the table (merge of k=5 rewrote exactly one bucket)
        old_f, new_f = set(t.snapshot(0).files), set(t.snapshot(1).files)
        changed_old = old_f - new_f
        changed_new = new_f - old_f
        assert len(changed_old) >= 1 and len(changed_old) < len(old_f)
        df = t.changelog(0, 1)
        plan = physical_plan(df)
        # untouched buckets' files never appear in the plan. Compare FULL
        # relative paths (data/sN/__bucket=B/part-…): partitionBy reuses
        # the same part-NNNNN-<jobUUID> basename across bucket dirs, so a
        # basename check would collide with the changed bucket's files.
        for f in sorted(old_f & new_f):
            assert f not in plan
        # and at least one changed-bucket file IS planned (guards against
        # the plan string truncating the file listing entirely)
        assert any(f in plan for f in changed_old | changed_new)
        got = {r.k: r.op for r in df.collect()}
        assert got == {5: "update"}
