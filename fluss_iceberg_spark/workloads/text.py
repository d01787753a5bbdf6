"""Text-analysis queries over the documents table (training-data ops)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fluss_iceberg_spark.operators import text as TX
from fluss_iceberg_spark.registry import query
from fluss_iceberg_spark.sources.tpch import load_table


@query(
    "text_token_stats",
    oracle="""
    SELECT lang,
           source,
           COUNT(1) AS n_docs,
           CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS total_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting rollup: whitespace tokens + chars per (lang, source).
    Pure built-ins; the shuffle carries only group keys + partial sums."""
    from fluss_iceberg_spark.operators.util import spread

    d = spread(load_table(spark, sf_dir, "documents"))
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TX.token_count(F.col("text")).cast("bigint")).alias("total_tokens"),
        F.sum(F.length("text").cast("bigint")).alias("total_chars"),
    )


@query(
    "text_quality_score",
    oracle="""
    WITH f AS (
        SELECT doc_id,
               CAST(length(text) AS INT) AS n_chars,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_tokens,
               length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS n_nonspace_removed,
               CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                   / length(text) AS digit_ratio,
               CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
                   / length(text) AS punct_ratio,
               CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b')) AS DOUBLE)
                   / len(regexp_split_to_array(trim(text), '\\s+')) AS stopword_ratio,
               CAST(length(text) - (length(text) - length(regexp_replace(text, '\\s', '', 'g'))) AS DOUBLE)
                   / len(regexp_split_to_array(trim(text), '\\s+')) AS avg_token_len
        FROM documents
    )
    SELECT doc_id, n_chars, n_tokens,
           round(avg_token_len, 4) AS avg_token_len,
           round(stopword_ratio, 4) AS stopword_ratio,
           round(least(stopword_ratio * 4.0, 1.0) * 0.4
                 + CASE WHEN avg_token_len >= 3.0 AND avg_token_len <= 10.0
                        THEN 0.3 ELSE 0.0 END
                 + greatest(0.0, 0.2 - digit_ratio * 2.0)
                 + greatest(0.0, 0.1 - punct_ratio), 4) AS quality
    FROM f
    """,
)
def quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scoring (length/punct/stopword heuristics)."""
    return TX.quality_score(load_table(spark, sf_dir, "documents"))


@query(
    "text_quality_topq",
    oracle="""
    WITH f AS (
        SELECT doc_id, lang,
               CAST(length(text) - (length(text) - length(regexp_replace(text, '\\s', '', 'g'))) AS DOUBLE)
                   / len(regexp_split_to_array(trim(text), '\\s+')) AS avg_token_len,
               CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                   / length(text) AS digit_ratio,
               CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
                   / length(text) AS punct_ratio,
               CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b')) AS DOUBLE)
                   / len(regexp_split_to_array(trim(text), '\\s+')) AS stopword_ratio
        FROM documents
    ), q AS (
        SELECT doc_id, lang,
               round(least(stopword_ratio * 4.0, 1.0) * 0.4
                     + CASE WHEN avg_token_len >= 3.0 AND avg_token_len <= 10.0
                            THEN 0.3 ELSE 0.0 END
                     + greatest(0.0, 0.2 - digit_ratio * 2.0)
                     + greatest(0.0, 0.1 - punct_ratio), 4) AS quality
        FROM f
    ), r AS (
        SELECT doc_id, lang, quality,
               row_number() OVER (
                   PARTITION BY lang ORDER BY quality DESC, doc_id
               ) AS grp_rank,
               COUNT(1) OVER (PARTITION BY lang) AS grp_size
        FROM q
    )
    SELECT doc_id, lang, quality, grp_rank, grp_size
    FROM r WHERE grp_rank <= CAST(ceil(grp_size * 0.25) AS BIGINT)
    """,
)
def quality_topq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language percentile quality pruning: keep each language's top
    quartile by quality score, rank-exact and deterministic (quality
    DESC, doc_id tie-break) — relative thresholds per stratum so
    low-resource languages are not wiped out by a global cutoff.

    ADAPTIVE dispatch (the dispatch is part of the operator): exact
    per-group sort below the measured 30k-doc crossover
    (two_phase_min_docs, operators/text.py) — it wins outright below
    it — and the two-phase histogram-cut form above it, where the
    whole-stratum sort becomes the skew axis. Both forms select the
    identical set (equality unit-gated), and the driver gate
    hash-checks whichever ran against the exact-window SQL oracle."""
    return TX.quality_percentile_filter_adaptive(
        load_table(spark, sf_dir, "documents"), frac=0.25
    )


@query(
    "text_lang_id",
    oracle="""
    WITH s AS (
        SELECT doc_id,
            CAST(len(regexp_extract_all(lower(text), '\\b(der|die|und|ist|nicht)\\b')) AS INT) AS score_de,
            CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b')) AS INT) AS score_en,
            CAST(len(regexp_extract_all(lower(text), '\\b(el|la|que|de|es)\\b')) AS INT) AS score_es,
            CAST(len(regexp_extract_all(lower(text), '\\b(le|la|et|est|les)\\b')) AS INT) AS score_fr,
            CAST(len(regexp_extract_all(lower(text), '\\b(de|shi|bu|le|zai)\\b')) AS INT) AS score_zh
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN greatest(score_de, score_en, score_es, score_fr, score_zh) = 0 THEN 'und'
                WHEN score_de = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'de'
                WHEN score_en = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'en'
                WHEN score_es = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'es'
                WHEN score_fr = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'fr'
                ELSE 'zh' END AS pred_lang,
           score_de, score_en, score_es, score_fr, score_zh
    FROM s
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic n-gram/stopword language ID; ties broken alphabetically."""
    return TX.lang_id(load_table(spark, sf_dir, "documents"))


@query(
    "text_bpe_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
                '''s|''t|''re|''ve|''m|''ll|''d| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+'))
                AS INT) AS n_bpe_tokens,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_ws_tokens
    FROM documents
    """,
)
def bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace and BPE-ish (GPT-2-style pre-tokenizer
    regex) counts per document."""
    from fluss_iceberg_spark.operators.util import spread

    d = spread(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        TX.bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        TX.token_count(F.col("text")).alias("n_ws_tokens"),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
)
def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over normalized text (hex-portable)."""
    return TX.fingerprint(load_table(spark, sf_dir, "documents"))


@query(
    "text_tfidf_top_terms",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, COUNT(1) AS tf FROM tok GROUP BY doc_id, term
    ), dfreq AS (
        SELECT term, COUNT(1) AS df FROM tf GROUP BY term
    ), n AS (
        SELECT COUNT(1) AS n_docs FROM documents
    ), scored AS (
        SELECT tf.doc_id, tf.term,
               (CAST(tf.tf AS DOUBLE) * n.n_docs) / dfreq.df AS score
        FROM tf CROSS JOIN n JOIN dfreq ON dfreq.term = tf.term
    ), ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term
        ) AS rk
        FROM scored
    )
    SELECT doc_id, term, score, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rarity-weighted top-3 terms per document (TF-IDF with a rational
    weight tf·N/df instead of a log — bit-identical across engines, same
    ordering). Scale shape: explode → two keyed aggs → broadcast of the
    term-df reduction → per-doc window; no driver materialization."""
    from fluss_iceberg_spark.operators.util import spread

    d = load_table(spark, sf_dir, "documents")
    tok = spread(d).select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.crossJoin(F.broadcast(n))
        .join(dfreq.withColumnRenamed("term", "df_term"), F.col("term") == F.col("df_term"))
        .select(
            "doc_id",
            "term",
            ((F.col("tf").cast("double") * F.col("n_docs")) / F.col("df")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.select("*", F.row_number().over(w).cast("int").alias("rk"))
        .filter(F.col("rk") <= 3)
    )


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\d{3}[-.]\d{3}[-.]\d{4}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


@query(
    "text_pii_scrub",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_IP}')) AS INT) AS n_ips,
           CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS INT) AS n_phones,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
               '{_PII_EMAIL}', '[EMAIL]', 'g'),
               '{_PII_PHONE}', '[PHONE]', 'g'),
               '{_PII_IP}', '[IP]', 'g')) AS scrubbed_fp
    FROM documents
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (the standard pre-training scrub pass):
    per-doc counts per category and a fingerprint of the scrubbed text.
    The synthetic corpus is PII-free (counts are 0 — the gate validates
    plumbing + the scrub being an md5-stable no-op); detection itself is
    unit-tested on literal documents containing each PII category."""
    return TX.pii_scrub(load_table(spark, sf_dir, "documents"))


@query(
    "text_pack_sequences",
    oracle="""
    WITH t AS (
        SELECT source AS shard, doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_tokens
        FROM documents
    ), c AS (
        SELECT shard, doc_id, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cum_before
        FROM t
    )
    SELECT shard, doc_id, n_tokens,
           cum_before // 2048 AS bin,
           cum_before % 2048 AS offset_in_bin
    FROM c
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing into 2048-token context bins, parallel per
    source shard (window cumsum — one exchange on the shard key, never a
    global single-partition sort)."""
    return TX.pack_sequences(load_table(spark, sf_dir, "documents"), 2048)


_MIX_RATES = {"en": 60, "de": 25, "fr": 25, "es": 25, "zh": 15}


@query(
    "text_stratified_sample",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, lang AS stratum,
               CAST(('0x' || substr(md5('mix-v1' || CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 100 AS sample_bucket,
               CASE lang WHEN 'en' THEN 60 WHEN 'de' THEN 25 WHEN 'fr' THEN 25
                         WHEN 'es' THEN 25 WHEN 'zh' THEN 15 ELSE 0 END AS sample_rate
        FROM documents
    )
    SELECT doc_id, stratum, sample_bucket, sample_rate
    FROM h WHERE sample_bucket < sample_rate
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing: deterministic hash-based stratified sampling per
    language (en 60%, de/fr/es 25%, zh 15%) — stable across engines, no
    RNG, decided map-side during the scan."""
    return TX.stratified_sample(
        load_table(spark, sf_dir, "documents"), _MIX_RATES
    )


@query(
    "text_temperature_mixing",
    oracle="""
    WITH d AS (
        SELECT doc_id, lang AS domain,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_tokens
        FROM documents
    ),
    s AS (
        SELECT domain, SUM(CAST(n_tokens AS BIGINT)) AS domain_tokens
        FROM d GROUP BY domain
    ),
    mn AS (SELECT MIN(domain_tokens) AS m FROM s),
    r AS (
        SELECT s.domain,
               CAST(floor(sqrt(CAST(mn.m AS DOUBLE) / CAST(s.domain_tokens AS DOUBLE))
                          * 1000000) AS BIGINT) AS rate_micro
        FROM s, mn
    ),
    h AS (
        SELECT d.doc_id, d.domain, d.n_tokens,
               CAST(('0x' || substr(md5('temp-v1' || CAST(d.doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 1000000 AS sample_bucket,
               r.rate_micro
        FROM d JOIN r ON d.domain = r.domain
    )
    SELECT doc_id, domain, n_tokens, sample_bucket, rate_micro
    FROM h WHERE sample_bucket < rate_micro
    """,
)
def temperature_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened domain mixing (α=0.5): dominant languages
    down-sample toward p^α while the smallest language keeps 100% —
    deterministic hash-rate selection, engine-exact micro-rates (IEEE
    sqrt/div are correctly rounded in both engines)."""
    return TX.temperature_sample(load_table(spark, sf_dir, "documents"))


@query(
    "text_repetition_filter",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    base AS (
        SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
               CAST(len(list_distinct(t)) AS INT) AS n_distinct, t
        FROM toks
    ),
    grams AS (
        SELECT doc_id, n_tokens, n_distinct,
               '2' || chr(1) || t[i] || ' ' || t[i+1] AS tg
        FROM base, UNNEST(range(1, len(t))) AS r(i)
        WHERE len(t) >= 2
        UNION ALL
        SELECT doc_id, n_tokens, n_distinct,
               '3' || chr(1) || t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS tg
        FROM base, UNNEST(range(1, len(t) - 1)) AS r(i)
        WHERE len(t) >= 3
    ),
    counts AS (
        SELECT doc_id, tg, COUNT(*) AS c,
               MAX(n_tokens) AS n_tokens, MAX(n_distinct) AS n_distinct
        FROM grams GROUP BY doc_id, tg
    ),
    per_doc AS (
        SELECT doc_id,
               MAX(n_tokens) AS n_tokens, MAX(n_distinct) AS n_distinct,
               MAX(CASE WHEN tg LIKE '2%' THEN c END) AS max2,
               SUM(CASE WHEN tg LIKE '2%' THEN c END) AS tot2,
               MAX(CASE WHEN tg NOT LIKE '2%' THEN c END) AS max3,
               SUM(CASE WHEN tg NOT LIKE '2%' THEN c END) AS tot3
        FROM counts GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS distinct_frac,
           CAST(max2 AS DOUBLE) / CAST(tot2 AS DOUBLE) AS top2gram_frac,
           CAST(max3 AS DOUBLE) / CAST(tot3 AS DOUBLE) AS top3gram_frac,
           (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 0.3
            AND CAST(max2 AS DOUBLE) / CAST(tot2 AS DOUBLE) < 0.20
            AND CAST(max3 AS DOUBLE) / CAST(tot3 AS DOUBLE) < 0.18) AS passes_gopher
    FROM per_doc
    """,
)
def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filter: distinct-token fraction
    plus top-2gram/top-3gram mass fractions, one tagged explode for both
    gram sizes (two shuffles total)."""
    return TX.repetition_features(load_table(spark, sf_dir, "documents"))


@query(
    "text_unigram_lm_score",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
        FROM documents
    ),
    freq AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w)
    SELECT t.doc_id,
           CAST(COUNT(*) AS INT) AS n_tokens,
           CAST(SUM(f.c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_token_freq,
           CAST(SUM(CASE WHEN f.c <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS rare_token_frac
    FROM tok t JOIN freq f ON t.w = f.w
    GROUP BY t.doc_id
    """,
)
def unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score (perplexity-filter stand-in): average
    corpus token frequency + rare-token fraction per document, exact
    integer arithmetic until the final division."""
    return TX.unigram_scores(load_table(spark, sf_dir, "documents"))


@query(
    "text_budget_mixing",
    oracle="""
    WITH f AS (
        SELECT doc_id, lang,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_tokens,
               CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                   / length(text) AS digit_ratio,
               CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
                   / length(text) AS punct_ratio,
               CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b')) AS DOUBLE)
                   / len(regexp_split_to_array(trim(text), '\\s+')) AS stopword_ratio,
               CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
                   / len(regexp_split_to_array(trim(text), '\\s+')) AS avg_token_len
        FROM documents
    ),
    q AS (
        SELECT doc_id, lang, n_tokens,
               round(least(stopword_ratio * 4.0, 1.0) * 0.4
                     + CASE WHEN avg_token_len >= 3.0 AND avg_token_len <= 10.0
                            THEN 0.3 ELSE 0.0 END
                     + greatest(0.0, 0.2 - digit_ratio * 2.0)
                     + greatest(0.0, 0.1 - punct_ratio), 4) AS quality
        FROM f
    ),
    s AS (
        SELECT doc_id, lang, n_tokens, quality,
               SUM(CAST(n_tokens AS BIGINT)) OVER (
                   PARTITION BY lang ORDER BY quality DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_tokens
        FROM q
    )
    SELECT doc_id, lang, n_tokens, quality, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM s WHERE cum_tokens <= 2000
    """,
)
def budget_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget data mixing: per language, the highest-quality docs
    whose cumulative token count fits a 2,000-token budget (greedy by
    quality DESC, doc_id tie-break). One shuffle on the language key;
    see operators/text.budget_select for the bounded-sort scale path."""
    return TX.budget_select(
        load_table(spark, sf_dir, "documents"), token_budget=2000
    )


@query(
    "text_budget_two_phase",
    oracle="""
    WITH f AS (
        SELECT doc_id, lang,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_tokens,
               CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                   / length(text) AS digit_ratio,
               CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
                   / length(text) AS punct_ratio,
               CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b')) AS DOUBLE)
                   / len(regexp_split_to_array(trim(text), '\\s+')) AS stopword_ratio,
               CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
                   / len(regexp_split_to_array(trim(text), '\\s+')) AS avg_token_len
        FROM documents
    ),
    q AS (
        SELECT doc_id, lang, n_tokens,
               round(least(stopword_ratio * 4.0, 1.0) * 0.4
                     + CASE WHEN avg_token_len >= 3.0 AND avg_token_len <= 10.0
                            THEN 0.3 ELSE 0.0 END
                     + greatest(0.0, 0.2 - digit_ratio * 2.0)
                     + greatest(0.0, 0.1 - punct_ratio), 4) AS quality
        FROM f
    ),
    s AS (
        SELECT doc_id, lang, n_tokens, quality,
               SUM(CAST(n_tokens AS BIGINT)) OVER (
                   PARTITION BY lang ORDER BY quality DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_tokens
        FROM q
    )
    SELECT doc_id, lang, n_tokens, quality
    FROM s WHERE cum_tokens <= 2000
    """,
)
def budget_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded-sort scale path of token-budget mixing: token mass per
    (lang, quality) level decides which levels fit entirely; only the one
    straddling level per language is doc_id-sorted. Selected set is
    proven equal to the exact greedy form (the oracle IS the exact
    form, minus the running total the scale path never materializes)."""
    return TX.budget_select_two_phase(
        load_table(spark, sf_dir, "documents"), token_budget=2000
    )


@query(
    "pipeline_curation_end2end",
    oracle="""
    WITH dedup AS (
        SELECT MIN(doc_id) AS doc_id
        FROM documents
        GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
    ),
    d AS (
        SELECT doc.doc_id, doc.lang, doc.text
        FROM documents doc JOIN dedup USING (doc_id)
    ),
    f AS (
        SELECT doc_id, lang,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_tokens,
               CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                   / length(text) AS digit_ratio,
               CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
                   / length(text) AS punct_ratio,
               CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b')) AS DOUBLE)
                   / len(regexp_split_to_array(trim(text), '\\s+')) AS stopword_ratio,
               CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
                   / len(regexp_split_to_array(trim(text), '\\s+')) AS avg_token_len
        FROM d
    ),
    q AS (
        SELECT doc_id, lang, n_tokens,
               round(least(stopword_ratio * 4.0, 1.0) * 0.4
                     + CASE WHEN avg_token_len >= 3.0 AND avg_token_len <= 10.0
                            THEN 0.3 ELSE 0.0 END
                     + greatest(0.0, 0.2 - digit_ratio * 2.0)
                     + greatest(0.0, 0.1 - punct_ratio), 4) AS quality
        FROM f
    ),
    s AS (
        SELECT doc_id, lang, n_tokens, quality,
               SUM(CAST(n_tokens AS BIGINT)) OVER (
                   PARTITION BY lang ORDER BY quality DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM q
    ),
    kept AS (
        SELECT doc_id, lang, n_tokens FROM s
        WHERE cum <= 2000 AND quality >= 0.3
    ),
    c AS (
        SELECT lang, doc_id, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cum_before
        FROM kept
    )
    SELECT lang, cum_before // 512 AS bin,
           COUNT(1) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
    FROM c GROUP BY lang, bin
    """,
)
def curation_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data curation pipeline as ONE DataFrame program:
    exact dedup (keep min doc per normalized-text fingerprint) → quality
    scoring → per-language token-budget selection (2,000 tokens, greedy
    by quality, floor 0.3) → 512-token sequence packing per language →
    bin summary. Every stage is a shuffle-bounded operator from the
    engine (dedup.exact_duplicates, text.budget_select,
    text.pack_sequences); the oracle chains the same stages as CTEs, so
    the differential gate certifies the composition, not just the parts."""
    from fluss_iceberg_spark.operators import dedup as DD

    docs = load_table(spark, sf_dir, "documents")
    keep = DD.exact_duplicates(docs).select(F.col("keep_doc_id").alias("doc_id"))
    deduped = docs.join(keep, "doc_id")
    sel = TX.budget_select(deduped, 2000).filter(F.col("quality") >= 0.3)
    kept_docs = deduped.join(sel.select("doc_id"), "doc_id")
    packed = TX.pack_sequences(kept_docs, 512, shard_col="lang")
    return packed.groupBy(F.col("shard").alias("lang"), "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_tokens").cast("bigint")).alias("bin_tokens"),
    )


@query(
    "export_training_shards",
    oracle="""
    WITH h AS (
        SELECT doc_id,
               md5('42:' || CAST(doc_id AS VARCHAR)) AS h
        FROM documents
    ), s AS (
        SELECT doc_id, h,
               CAST(('0x' || substr(h, 1, 6))::BIGINT % 16 AS INT) AS shard
        FROM h
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (
               PARTITION BY shard ORDER BY h, doc_id
           ) AS INT) AS pos_in_shard,
           h AS shuffle_key
    FROM s
    """,
)
def training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded global shuffle into 16 training shards with
    within-shard positions — the export step of a data pipeline. One
    balanced hash shuffle; materialization is write.partitionBy(shard)."""
    return TX.shard_assignment(
        load_table(spark, sf_dir, "documents"), n_shards=16, seed=42
    )


@query(
    "text_ngram_stats",
    oracle="""
    WITH toks AS (
        SELECT regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
    ), grams AS (
        SELECT w[i] || ' ' || w[i + 1] AS ngram
        FROM toks, UNNEST(range(1, len(w))) AS t(i)
        WHERE len(w) >= 2
    )
    SELECT ngram, COUNT(1) AS n_occurrences
    FROM grams
    GROUP BY 1
    ORDER BY n_occurrences DESC, ngram ASC
    LIMIT 50
    """,
)
def ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram census: top-50 most frequent word bigrams.
    Partial-aggregated groupBy + TakeOrderedAndProject top-k."""
    return TX.ngram_counts(load_table(spark, sf_dir, "documents"), n=2, top_k=50)


@query(
    "text_chunk_passages",
    oracle="""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
    ),
    c AS (
        SELECT doc_id, toks, CAST(s AS INT) AS start_tok
        FROM t, unnest(range(0,
            GREATEST(CAST(ceil((len(toks) - 64) / 48.0) * 48 AS BIGINT), 0) + 1,
            48)) AS u(s)
    )
    SELECT doc_id, CAST(start_tok / 48 AS INT) AS chunk_idx, start_tok,
           CAST(len(toks[start_tok + 1 : start_tok + 64]) AS INT) AS n_tok,
           array_to_string(toks[start_tok + 1 : start_tok + 64], ' ') AS chunk_text
    FROM c
    """,
)
def chunk_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping passage chunking (64-token windows every 48 tokens,
    16-token overlap) with chunk index and source token offset — the
    RAG / training-prep windowing step, zero-shuffle map-side."""
    return TX.chunk_passages(load_table(spark, sf_dir, "documents"))


@query(
    "text_weighted_sample",
    oracle="""
    WITH d AS (
        SELECT doc_id, lang AS stratum,
               GREATEST(len(regexp_split_to_array(trim(text), '\\s+')), 1) AS w
        FROM documents
    ),
    k AS (
        SELECT doc_id, stratum, CAST(w AS INT) AS weight,
               round(pow(
                   (CAST(('0x' || substr(md5('wrs-v1' || CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) + 1.0) / 4294967297.0,
                   1.0 / CAST(w AS DOUBLE)), 12) AS sample_key
        FROM d
    ),
    r AS (
        SELECT *, row_number() OVER (
            PARTITION BY stratum ORDER BY sample_key DESC, doc_id
        ) AS rk FROM k
    )
    SELECT doc_id, stratum, weight, sample_key FROM r WHERE rk <= 40
    """,
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k token-mass-proportional sampling per language — the
    Efraimidis-Spirakis weighted reservoir over a deterministic
    md5-uniform (operators/text.weighted_reservoir_sample). Completes
    the mixing family: stratified = fixed rates, budget = exact token
    caps, temperature = p^alpha flattening, weighted reservoir =
    exact-k proportional-to-size draws."""
    return TX.weighted_reservoir_sample(
        load_table(spark, sf_dir, "documents"), k=40
    )


@query(
    "text_bigram_coherence",
    oracle="""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents
    ), grams AS (
        SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg
        FROM toks, UNNEST(range(1, len(w))) AS t(i)
        WHERE len(w) >= 2
    ), dc AS (
        SELECT doc_id, bg, COUNT(1) AS cnt FROM grams GROUP BY 1, 2
    ), freq AS (
        SELECT bg, SUM(cnt) AS c_bg FROM dc GROUP BY 1
    ), pref AS (
        SELECT split_part(bg, ' ', 1) AS w1, SUM(c_bg) AS c_w1
        FROM freq GROUP BY 1
    )
    SELECT dc.doc_id,
           CAST(SUM(dc.cnt) AS INT) AS n_bigrams,
           CAST(SUM(dc.cnt * f.c_bg) AS DOUBLE)
               / CAST(SUM(dc.cnt * p.c_w1) AS DOUBLE) AS coherence,
           CAST(SUM(dc.cnt * f.c_bg) AS DOUBLE)
               / CAST(SUM(dc.cnt) AS DOUBLE) AS avg_bigram_freq,
           CAST(SUM(CASE WHEN f.c_bg <= 2 THEN dc.cnt ELSE 0 END) AS DOUBLE)
               / CAST(SUM(dc.cnt) AS DOUBLE) AS rare_bigram_frac
    FROM dc
    JOIN freq f USING (bg)
    JOIN pref p ON split_part(dc.bg, ' ', 1) = p.w1
    GROUP BY dc.doc_id
    """,
)
def bigram_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order LM quality scoring: occurrence-weighted average
    bigram conditional probability per document (plus avg bigram corpus
    frequency and rare-transition mass) — the bigram step up from
    unigram_scores toward the CCNet/Gopher perplexity filter, kept in
    integer sums with one final division so values bit-match the oracle
    (operators/text.bigram_scores; one corpus explode, fact shuffle on
    (doc, bigram), context counts derived from the bigram vocabulary)."""
    return TX.bigram_scores(load_table(spark, sf_dir, "documents"))


@query(
    "text_domain_cap",
    oracle="""
    WITH r AS (
        SELECT doc_id, source, n_chars,
               row_number() OVER (
                   PARTITION BY source ORDER BY n_chars DESC, doc_id
               ) AS dom_rank,
               COUNT(1) OVER (PARTITION BY source) AS dom_size
        FROM documents
    )
    SELECT doc_id, source, n_chars,
           CAST(dom_rank AS INT) AS dom_rank,
           CAST(dom_size AS INT) AS dom_size
    FROM r WHERE dom_rank <= 15
    """,
)
def domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain frequency capping: keep at most 15 documents per
    source, preferring the longest (n_chars DESC, doc_id tie-break) —
    the C4/RefinedWeb guard against one site flooding the corpus. Runs
    the two-phase histogram-cut form (the absolute-N sibling of
    quality_percentile_filter_two_phase — no whole-domain sort anywhere)
    while the oracle ranks each domain outright, so the driver gate
    hash-checks the 100 TB plan against the naive semantics
    (operators/text.domain_frequency_cap)."""
    return TX.domain_frequency_cap(
        load_table(spark, sf_dir, "documents"), cap=15
    )


@query(
    "text_bpe_roundtrip",
    oracle="SELECT doc_id, text AS rebuilt FROM documents",
)
def bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-tokenizer losslessness, corpus-wide: learn 150 BPE merges
    from this corpus' word counts (operators/bpe.py — ONE word-count
    shuffle + bounded-vocab driver merge loop, the subword-nmt /
    HF-tokenizers shape), encode every document with the learned merges
    (map-side Arrow kernel, per-distinct-word memo), decode the token
    stream back, and return (doc_id, rebuilt). The oracle is the raw
    corpus itself, so the driver's value hash proves
    decode(encode(text)) == text for EVERY document — any dropped,
    duplicated, or mis-merged token anywhere in train/encode/decode
    breaks the gate. Whitespace runs pass through as atomic tokens
    (delimiter-capturing split), which is what makes exactness possible
    on arbitrary text."""
    from fluss_iceberg_spark.operators import bpe as BPE

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = BPE.train_bpe(docs, n_merges=150, vocab_cap=65536)
    return BPE.bpe_roundtrip(docs, merges)


@query("text_bpe_train_merges")
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table itself: 150 ranked merges trained from
    the corpus word counts. Deterministic — selection is (count desc,
    pair asc), hash-order independent — so the driver's rows-only record
    is stable across runs; exact equality with the pure-Python reference
    trainer (and the Sennrich et al. 2016 worked example) is unit-gated
    in tests/test_bpe.py. No SQL oracle by nature: the merge loop is
    iterative (each merge changes the pair statistics the next one
    sees), which SQL cannot replay without recursion over aggregates."""
    from fluss_iceberg_spark.operators import bpe as BPE

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = BPE.train_bpe(docs, n_merges=150, vocab_cap=65536)
    return BPE.merges_df(spark, merges)


@query(
    "text_classifier_score",
    oracle="""
    WITH f AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS f_tokens,
               CAST(length(text) AS BIGINT) AS f_chars,
               CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS f_digits,
               CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS f_punct
        FROM documents
    )
    SELECT doc_id,
           CAST(-40 + 8 * f_tokens - 1 * f_chars + 2 * f_digits + 4 * f_punct
                AS BIGINT) AS logit,
           CAST(CASE WHEN -40 + 8 * f_tokens - 1 * f_chars + 2 * f_digits
                          + 4 * f_punct > 0
                     THEN 1 ELSE 0 END AS INT) AS keep
    FROM f
    """,
)
def classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering, scoring path: integer linear
    classifier over JVM-codegen text features (token count, length,
    digit count, punctuation count — regexp counts, zero UDFs). The
    weights are fixed integers so the logit is exact 64-bit arithmetic
    and the DuckDB oracle replays keep/logit bit-for-bit — gating the
    FEATURIZATION (the part that touches 100 TB) while training is
    gated by its own units (operators/classifier.py)."""
    from fluss_iceberg_spark.operators import classifier as CL

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return CL.score_fixed(CL.featurize(docs), [-40, 8, -1, 2, 4])


@query("text_classifier_train")
def classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering, training path: logistic regression
    by full-batch gradient descent where EACH EPOCH'S GRADIENT IS ONE
    CATALYST AGGREGATE over the persisted feature projection
    (sigmoid(X·w) as a column expression with current weights as
    literals; map-side partial sums; zero Python workers). Labels come
    from a deterministic separable teacher, so convergence is checkable:
    the returned rows are the learned weights plus the training-set
    accuracy (1.0 at convergence — asserted in tests/test_classifier.py
    alongside equality-within-tolerance vs a pure-Python reference).
    Rows-only by nature: float gradient sums are partition-order
    dependent, so cross-engine value hashing would flake."""
    from fluss_iceberg_spark.operators import classifier as CL

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    labeled = CL.teacher_labels(CL.featurize(docs))
    cols = [name for name, _ in CL.FEATURES]
    w = CL.train_logreg(labeled, cols, epochs=30, lr=4.0)
    # keep_cols carries y through the scoring projection: ONE featurize
    # pass and zero shuffle for the accuracy check (the former
    # .join(labeled, "doc_id") re-featurized the corpus a second time
    # and exchanged both sides by doc_id just to re-fetch the label)
    acc = CL.accuracy(CL.score(labeled, w, cols, keep_cols=("y",)))
    rows = [("bias", float(w[0]))] + [
        (cols[j], float(w[j + 1])) for j in range(len(cols))
    ] + [("train_accuracy", acc)]
    from fluss_iceberg_spark.operators.util import arrow_local_df

    return arrow_local_df(spark, rows, "term string, value double")


@query(
    "text_gopher_rules",
    oracle="""
    WITH f AS (
        SELECT doc_id,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
               length(regexp_replace(text, '\\s', '', 'g')) AS n_word_chars,
               length(text) - length(regexp_replace(text, '[#…]', '', 'g')) AS hash_diff,
               length(text) - length(regexp_replace(text, '\\.\\.\\.', '', 'g')) AS ell_diff,
               len(regexp_split_to_array(text, '\\n')) AS n_lines,
               len(list_filter(regexp_split_to_array(text, '\\n'),
                               ln -> regexp_matches(ln, '^\\s*[-*•]'))) AS n_bullet,
               len(list_filter(regexp_split_to_array(text, '\\n'),
                               ln -> regexp_matches(ln, '(\\.\\.\\.|…)\\s*$'))) AS n_ellipsis,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               w -> regexp_matches(w, '[a-zA-Z]'))) AS n_alpha,
               (CASE WHEN regexp_matches(lower(text), '\\bthe\\b') THEN 1 ELSE 0 END
                + CASE WHEN regexp_matches(lower(text), '\\bbe\\b') THEN 1 ELSE 0 END
                + CASE WHEN regexp_matches(lower(text), '\\bto\\b') THEN 1 ELSE 0 END
                + CASE WHEN regexp_matches(lower(text), '\\bof\\b') THEN 1 ELSE 0 END
                + CASE WHEN regexp_matches(lower(text), '\\band\\b') THEN 1 ELSE 0 END
                + CASE WHEN regexp_matches(lower(text), '\\bthat\\b') THEN 1 ELSE 0 END
                + CASE WHEN regexp_matches(lower(text), '\\bhave\\b') THEN 1 ELSE 0 END
                + CASE WHEN regexp_matches(lower(text), '\\bwith\\b') THEN 1 ELSE 0 END
               ) AS n_stop
        FROM documents
    ),
    r AS (
        SELECT doc_id, n_words,
               CASE WHEN n_words >= 5 AND n_words <= 100000 THEN 1 ELSE 0 END AS r_word_count,
               CASE WHEN n_word_chars >= 3 * n_words AND n_word_chars <= 10 * n_words THEN 1 ELSE 0 END AS r_mean_word_len,
               CASE WHEN (hash_diff * 3 + ell_diff) * 10 <= n_words * 3 THEN 1 ELSE 0 END AS r_symbol_ratio,
               CASE WHEN n_bullet * 10 <= n_lines * 9 THEN 1 ELSE 0 END AS r_bullet_lines,
               CASE WHEN n_ellipsis * 10 <= n_lines * 3 THEN 1 ELSE 0 END AS r_ellipsis_lines,
               CASE WHEN n_alpha * 5 >= n_words * 4 THEN 1 ELSE 0 END AS r_alpha_words,
               CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS r_stopwords
        FROM f
    )
    SELECT doc_id, CAST(n_words AS INT) AS n_words,
           CAST(r_word_count AS INT) AS r_word_count,
           CAST(r_mean_word_len AS INT) AS r_mean_word_len,
           CAST(r_symbol_ratio AS INT) AS r_symbol_ratio,
           CAST(r_bullet_lines AS INT) AS r_bullet_lines,
           CAST(r_ellipsis_lines AS INT) AS r_ellipsis_lines,
           CAST(r_alpha_words AS INT) AS r_alpha_words,
           CAST(r_stopwords AS INT) AS r_stopwords,
           CAST(r_word_count * r_mean_word_len * r_symbol_ratio * r_bullet_lines
                * r_ellipsis_lines * r_alpha_words * r_stopwords AS INT) AS keep
    FROM r
    """,
)
def gopher_rules_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher document-quality rule set (Rae et al. 2021,
    Appendix A) as exact integer flags — word-count bounds, mean word
    length, symbol ratio, bullet/ellipsis line fractions, alpha-word
    fraction, stopword presence — every ratio threshold cross-multiplied
    so both engines compare integers. The Spark side runs entirely in
    whole-stage codegen (higher-order array functions, zero UDFs); the
    oracle replays each rule verbatim, so the driver hash-gates all 7
    flags plus the composite keep bit for every document."""
    return TX.gopher_rules(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


@query("text_compression_ratio")
def compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality filter (boilerplate detector): per-doc
    deflate ratio in integer milli-units, keep = 300..1100. Deflate is
    the one genuinely non-SQL step in the curation stack, so the gate
    is rows-only; the kernel is unit-pinned against direct zlib calls
    and the integer arithmetic (z*1000 // n) is deterministic. The pass
    is map-side Arrow with zero shuffles."""
    return TX.compression_ratio_filter(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


@query("text_perplexity_filter", oracle=TX.perplexity_oracle_sql(90, 321_700))
def perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity filtering under a full cross-engine value gate — the
    CCNet/Gopher LM-filter endgame bigram_scores points at: per-doc
    negative log-likelihood under an interpolated (Jelinek-Mercer,
    lam=90/100) bigram model of the corpus itself, in EXACT 2^-16-bit
    units via the integer shift-and-square ilog2
    (operators/text.perplexity_scores — probabilities stay rational,
    only their logs are fixed-point, so Spark, DuckDB and Python compute
    byte-identical scores). keep = avg bits/bigram <= ~4.908. One corpus
    explode; all model tables Zipf-small; the ~52-step ilog chain runs
    on the MODEL table only."""
    return TX.perplexity_scores(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


def _cms_oracle_sql(depth: int = 4, width: int = 1024, top: int = 20) -> str:
    rows_union = "\n        UNION ALL\n".join(
        f"""        SELECT {r} AS row,
               CAST(('0x' || substr(md5('cms{r}|' || tok), 1, 13)) AS BIGINT)
                   % {width} AS bucket
        FROM toks"""
        for r in range(depth)
    )
    probes_union = "\n        UNION ALL\n".join(
        f"""        SELECT tok, true_cnt, {r} AS row,
               CAST(('0x' || substr(md5('cms{r}|' || tok), 1, 13)) AS BIGINT)
                   % {width} AS bucket
        FROM top_toks"""
        for r in range(depth)
    )
    return f"""
    WITH toks AS (
        SELECT t.tok FROM documents,
               UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t(tok)
        WHERE t.tok <> ''
    ), tok_counts AS (
        SELECT tok, COUNT(1) AS true_cnt FROM toks GROUP BY tok
    ), top_toks AS (
        SELECT tok, true_cnt FROM tok_counts
        ORDER BY true_cnt DESC, tok ASC LIMIT {top}
    ), rows_all AS (
{rows_union}
    ), cms AS (
        SELECT row, bucket, COUNT(1) AS cnt FROM rows_all GROUP BY 1, 2
    ), probes AS (
{probes_union}
    )
    SELECT p.tok,
           CAST(p.true_cnt AS BIGINT) AS true_cnt,
           CAST(MIN(c.cnt) AS BIGINT) AS est_cnt,
           CAST(MIN(c.cnt) - p.true_cnt AS BIGINT) AS overcount
    FROM probes p JOIN cms c ON p.row = c.row AND p.bucket = c.bucket
    GROUP BY p.tok, p.true_cnt
    """


@query("text_cms_heavy_hitters", oracle=_cms_oracle_sql())
def cms_heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy hitters under a full value gate — the
    frequency leg of the sketch family (KMV = distinct, bottom-k =
    quantiles, CMS = counts): a 4×1024 counter matrix over md5-salted
    buckets, estimates = min over rows, never under the true count
    (Cormode-Muthukrishnan 2005). The gate estimates the corpus's exact
    top-20 tokens and emits true vs estimate vs overcount — exact
    integers any engine replays (operators/sketches.cms_heavy_hitters).
    The sketch is d·w counters regardless of corpus size, mergeable by
    addition across partitions/days/CDC deltas."""
    from fluss_iceberg_spark.operators import sketches as SK

    return SK.cms_heavy_hitters(
        load_table(spark, sf_dir, "documents").select("text")
    )


@query(
    "text_keyword_search",
    oracle="""
    WITH tf AS (
        SELECT doc_id, t, COUNT(1) AS cnt FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
            FROM documents
        )
        WHERE t IN ('vector', 'window', 'merge')
        GROUP BY 1, 2
    ), hit AS (
        SELECT doc_id, SUM(cnt) AS hits
        FROM tf GROUP BY doc_id HAVING COUNT(DISTINCT t) = 3
    )
    SELECT d.doc_id, d.lang, d.source, CAST(h.hits AS BIGINT) AS hits
    FROM hit h JOIN documents d USING (doc_id)
    """,
)
def keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-backed conjunctive keyword search: build a PERSISTED
    inverted index (postings lake table `(tok, doc_id, cnt)`, clustered
    by token so manifest min/max prunes a term lookup to the files
    holding that token's range), then answer `vector AND window AND
    merge` by intersecting posting lists — groupBy(doc_id) over ONLY the
    matching postings, never a corpus scan at query time. Results join
    back to documents for metadata and carry the summed term frequency.
    Oracle replays the same conjunction by brute-force tokenization.

    100 TB: the index build is one tokenize + one (doc, tok) count
    shuffle (amortized over every query); a query reads
    O(files-with-term) postings (Zipf vocab → hot terms dominate file
    count, rare terms touch one file), intersects with one doc_id-keyed
    aggregate sized by the posting lists, and joins metadata on the
    PK. The same postings table serves OR / phrase-prefix variants."""
    from fluss_iceberg_spark.lake.table import LakeCatalog
    from fluss_iceberg_spark.operators.text import tokens
    from fluss_iceberg_spark.workloads.lake import _scratch

    terms = ["vector", "window", "merge"]
    docs = load_table(spark, sf_dir, "documents")
    cat = LakeCatalog(spark, _scratch(sf_dir, "kwsearch"))
    postings_df = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    t = cat.create_table(
        "postings",
        postings_df.schema,
        properties={
            "write.sort-order": "tok",
            "write.cluster-partitions": "8",
        },
    )
    t.append(postings_df)
    matches = t.read(where=[("tok", "in", terms)]).filter(
        F.col("tok").isin(terms)
    )
    hits = (
        matches.groupBy("doc_id")
        .agg(
            F.count_distinct("tok").alias("__nt"),
            F.sum("cnt").alias("hits"),
        )
        .filter(F.col("__nt") == len(terms))
        .select("doc_id", F.col("hits").cast("long").alias("hits"))
    )
    return hits.join(docs.select("doc_id", "lang", "source"), on="doc_id").select(
        "doc_id", "lang", "source", "hits"
    )


@query(
    "text_bm25_search",
    oracle=TX.bm25_oracle_sql(["vector", "window", "merge"]),
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval under a full cross-engine value gate — the
    ranking twin of text_keyword_search's boolean retrieval: top-20
    documents for an OR-semantics 3-term query with k1=1.2, b=0.75,
    integer-exact via the fixed-point ilog2 idf and an exact-rational tf
    saturation (operators/text.bm25_scores). One corpus tokenize; the
    ilog chain runs on the 3-row term table; scoring is broadcast-joined
    and the top-k bounded."""
    docs = load_table(spark, sf_dir, "documents")
    ranked = TX.bm25_scores(
        docs.select("doc_id", "text"), ["vector", "window", "merge"]
    )
    return ranked.join(
        docs.select("doc_id", "lang", "source"), on="doc_id"
    ).select("doc_id", "score_scaled", "lang", "source")


_RRF_TERMS = ["vector", "window", "merge"]

_HYBRID_RRF_ORACLE = f"""
    WITH bm AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY score_scaled DESC, doc_id ASC) AS INT) AS bm25_rank
        FROM ({TX.bm25_oracle_sql(_RRF_TERMS)}) b
    ), ve AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings
    ), cscored AS (
        SELECT n.vec_id AS doc_id,
               round(list_dot_product(q.vv, n.vv)
                     / (sqrt(list_dot_product(q.vv, q.vv))
                        * sqrt(list_dot_product(n.vv, n.vv))),
                     4) AS cosine
        FROM ve q JOIN ve n ON n.vec_id <> q.vec_id
        WHERE q.vec_id = 0
    ), cos AS (
        SELECT doc_id, cos_rank FROM (
            SELECT doc_id, CAST(ROW_NUMBER() OVER (
                ORDER BY cosine DESC, doc_id ASC) AS INT) AS cos_rank
            FROM cscored
        ) t WHERE cos_rank <= 20
    ), fused AS (
        SELECT COALESCE(bm.doc_id, cos.doc_id) AS doc_id,
               COALESCE(bm.bm25_rank, 0) AS bm25_rank,
               COALESCE(cos.cos_rank, 0) AS cos_rank,
               (CASE WHEN bm.bm25_rank IS NULL THEN 0
                     ELSE 1000000 // (60 + bm.bm25_rank) END
                + CASE WHEN cos.cos_rank IS NULL THEN 0
                       ELSE 1000000 // (60 + cos.cos_rank) END) AS rrf_scaled
        FROM bm FULL OUTER JOIN cos ON bm.doc_id = cos.doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(rrf_scaled AS BIGINT) AS rrf_scaled,
           bm25_rank, cos_rank
    FROM fused
    ORDER BY rrf_scaled DESC, doc_id ASC
    LIMIT 10
"""


@query("text_hybrid_rrf_search", oracle=_HYBRID_RRF_ORACLE)
def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — the production RAG shape: a keyword leg
    (integer-exact BM25 top-20 for a 3-term query) and a vector leg
    (exact cosine top-20 for query vector 0, rounded to 4 so both
    engines rank identically) fused by reciprocal-rank fusion
    (operators/text.rrf_fuse, 1e6 // (60 + rank) per leg, integer-exact)
    into one top-10 — a relevance ranking that VALUE-HASHES across
    engines end to end. Cost is the sum of the legs (one cached corpus
    tokenize + one embeddings scan); fusion joins two <= 20-row frames."""
    from fluss_iceberg_spark.operators import similarity as SIM

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    bm = TX.bm25_scores(docs.select("doc_id", "text"), _RRF_TERMS, top=20)
    w = Window.orderBy(F.desc("score_scaled"), F.asc("doc_id"))
    bm_ranked = bm.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "rank"
    )
    cos_ranked = SIM.brute_force_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=20
    ).select(F.col("nn_id").alias("doc_id"), "rank")
    return TX.rrf_fuse(
        [("bm25", bm_ranked), ("cos", cos_ranked)], k=60, top=10
    ).select(
        "doc_id",
        F.col("rrf_scaled").cast("long").alias("rrf_scaled"),
        "bm25_rank",
        F.col("cos_rank"),
    )


@query(
    "text_index_incremental",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents
    ), tf AS (
        SELECT doc_id, tok, COUNT(1) AS cnt
        FROM toks WHERE tok IN ('vector', 'window', 'merge')
        GROUP BY doc_id, tok
    ), hits AS (
        SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS hits
        FROM tf
        GROUP BY doc_id
        HAVING COUNT(DISTINCT tok) = 3
    )
    SELECT h.doc_id, d.lang, d.source, h.hits
    FROM hits h JOIN documents d USING (doc_id)
    """,
)
def index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental inverted-index maintenance — the text twin of
    ann_index_cdc_sync, but fully VALUE-GATED (posting counts are
    integers): documents land in a log table over two commits (a 3/4
    base load, then a 1/4 delta batch), and after EACH commit the
    postings table is extended by indexing ONLY that commit's increment
    (`incremental_read` — file-set difference, never a base rescan).
    The conjunctive query over the incrementally-maintained index must
    equal brute-force search over the full corpus — the oracle proves
    index maintenance added exactly the delta's postings, no more, no
    less.

    100 TB: each maintenance tick costs O(delta tokenize) + one
    (tok, doc_id) count shuffle over the delta; the postings table stays
    token-clustered per append, so term lookups keep pruning to
    O(files-with-term) as the index grows."""
    from fluss_iceberg_spark.lake.table import LakeCatalog
    from fluss_iceberg_spark.operators.text import tokens
    from fluss_iceberg_spark.workloads.lake import _scratch

    terms = ["vector", "window", "merge"]
    docs = load_table(spark, sf_dir, "documents")
    cat = LakeCatalog(spark, _scratch(sf_dir, "kwindex_incr"))
    dt = cat.create_table(
        "docs_log", docs.select("doc_id", "text").schema
    )
    dt.append(docs.select("doc_id", "text").filter(F.col("doc_id") % 4 != 3))
    v0 = dt.current_version()
    dt.append(docs.select("doc_id", "text").filter(F.col("doc_id") % 4 == 3))
    v1 = dt.current_version()

    def _postings(delta: DataFrame) -> DataFrame:
        return (
            delta.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
            .filter(F.col("tok") != "")
            .groupBy("tok", "doc_id")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    base_postings = _postings(dt.incremental_read(-1, v0))
    pt = cat.create_table(
        "postings_incr",
        base_postings.schema,
        properties={
            "write.sort-order": "tok",
            "write.cluster-partitions": "8",
        },
    )
    pt.append(base_postings)  # tick 1: index the base commit's increment
    pt.append(_postings(dt.incremental_read(v0, v1)))  # tick 2: delta only
    matches = pt.read(where=[("tok", "in", terms)]).filter(
        F.col("tok").isin(terms)
    )
    hits = (
        matches.groupBy("doc_id")
        .agg(
            F.count_distinct("tok").alias("__nt"),
            F.sum("cnt").alias("hits"),
        )
        .filter(F.col("__nt") == len(terms))
        .select("doc_id", F.col("hits").cast("long").alias("hits"))
    )
    return hits.join(
        docs.select("doc_id", "lang", "source"), on="doc_id"
    ).select("doc_id", "lang", "source", "hits")


@query(
    "export_epoch_shuffle",
    oracle="""
    WITH d AS (
        SELECT doc_id, lang AS domain,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT)
                   AS n_tokens
        FROM documents
    ), s AS (
        SELECT domain, SUM(CAST(n_tokens AS BIGINT)) AS domain_tokens
        FROM d GROUP BY domain
    ), t AS (
        SELECT SUM(domain_tokens) // COUNT(1) AS target FROM s
    ), r AS (
        SELECT s.domain,
               LEAST(3000000, (t.target * 1000000) // s.domain_tokens)
                   AS repeat_micro
        FROM s, t
    ), c AS (
        SELECT d.doc_id, d.domain, d.n_tokens,
               CAST(r.repeat_micro // 1000000 AS BIGINT) AS full_copies,
               CAST(r.repeat_micro % 1000000 AS BIGINT) AS frac,
               CAST(('0x' || substr(md5('esh-v1:' || CAST(d.doc_id AS VARCHAR)),
                     1, 8)) AS BIGINT) % 1000000 AS bucket
        FROM d JOIN r USING (domain)
    ), e AS (
        SELECT doc_id, domain, n_tokens, CAST(u.i AS INT) AS copy_idx
        FROM c, UNNEST(range(0, full_copies + 1)) u(i)
        WHERE u.i < full_copies OR bucket < frac
    ), k AS (
        SELECT doc_id, domain, n_tokens, copy_idx,
               md5('esh-v1:' || CAST(doc_id AS VARCHAR) || ':'
                   || CAST(copy_idx AS VARCHAR)) AS shuffle_key
        FROM e
    ), sh AS (
        SELECT *, CAST(CAST(('0x' || substr(shuffle_key, 1, 6)) AS BIGINT)
                       % 8 AS INT) AS shard
        FROM k
    )
    SELECT doc_id, domain, n_tokens, copy_idx, shard,
           CAST(row_number() OVER (
               PARTITION BY shard
               ORDER BY shuffle_key, doc_id, copy_idx) AS INT) AS pos_in_shard,
           shuffle_key
    FROM sh
    """,
)
def epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch materialization under a uniform target domain mixture —
    the UPSAMPLING exporter (repeat small domains up to 3x by distinct
    copy_idx, fractional copies by seeded hash, then the epoch-shuffle
    shard/position every training run consumes). Completes the mixing
    family's missing half: every other mixing op only selects DOWN.
    Integer-exact rates + md5 order make it fully hash-gated
    (operators/text.epoch_materialize)."""
    return TX.epoch_materialize(load_table(spark, sf_dir, "documents"))
