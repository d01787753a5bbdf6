"""Model-based quality filtering — the fastText-classifier role in
public training-data pipelines (C4 used rules; GPT-3/LLaMA-lineage
corpora filter with a LEARNED quality classifier scored over every
document). This implements the distributed pieces Spark-first:

- featurization is pure JVM column arithmetic (length / regexp counts
  inside whole-stage codegen — no UDFs),
- logistic-regression TRAINING is full-batch gradient descent where
  each epoch's gradient is ONE Catalyst aggregate over the cached
  feature frame: sigmoid(X·w) is built as a column expression with the
  current weights as literals, and SUM((p - y) * x_j) comes back as a
  k-vector — map-side partial aggregation, a k-column shuffle of
  partial sums, zero Python workers. The driver holds only w (k
  floats) and the loop counter.
- scoring re-uses the same expression — one pass, no shuffle.

100 TB shape: each epoch is one scan of the (persisted, columnar)
feature projection — k+1 doubles per row, NOT the corpus text — with a
partial-agg shuffle of numPartitions × k cells. That is the textbook
distributed-GD layout (parameter server degenerates to the driver for
k ≪ memory). Epoch count is fixed; there is no per-row Python.

The gradient's float SUM is order-dependent across partitions, so
training is gated by tolerance units (== numpy reference) and a
perfect-separation accuracy check, while the oracle-backed driver gate
(`text_classifier_score`) scores with FIXED integer weights so the
logit is exact integer arithmetic both engines replay bit-for-bit.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fluss_iceberg_spark.operators.util import materialized, session_conf

# (name, spark expression builder) — integer features, cheap JVM ops;
# the DuckDB replays live next to each query's oracle SQL
FEATURES = (
    ("f_tokens", lambda c: F.size(F.split(F.trim(c), r"\s+"))),
    ("f_chars", lambda c: F.length(c)),
    ("f_digits", lambda c: F.length(c) - F.length(F.regexp_replace(c, "[0-9]", ""))),
    ("f_punct", lambda c: F.length(c) - F.length(F.regexp_replace(c, "[.,!?;:]", ""))),
)


def featurize(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, f_*) integer features via whole-stage-codegen columns."""
    c = F.col(text_col)
    return docs.select(
        "doc_id", *[expr(c).cast("long").alias(name) for name, expr in FEATURES]
    )


def teacher_labels(feats: DataFrame) -> DataFrame:
    """Deterministic, linearly separable teacher: y = 1 iff
    8*f_tokens + 4*f_punct > f_chars (token-dense, punctuated text —
    a crude 'prose not boilerplate' rule both engines replay)."""
    return feats.withColumn(
        "y",
        (
            F.col("f_tokens") * 8 + F.col("f_punct") * 4 > F.col("f_chars")
        ).cast("int"),
    )


def train_logreg(
    labeled: DataFrame,
    feature_cols: list,
    label_col: str = "y",
    epochs: int = 30,
    lr: float = 4.0,
) -> list:
    """Full-batch GD; returns [bias, w_1..w_k]. Features are
    standardized inside the expression (mean/std from one stats pass)
    so one learning rate fits all scales; each epoch is a single
    Catalyst aggregate over the projection, held cached for the fit."""
    cols = list(feature_cols)
    with materialized(labeled.select(label_col, *cols)) as proj:
        # ONE stats action: the row count rides the same aggregate as the
        # moments instead of a separate count() job (identical values —
        # count/avg/stddev_pop over the same rows)
        stats = proj.agg(
            F.count(F.lit(1)).alias("n"),
            *[F.avg(c).alias(f"m_{c}") for c in cols],
            *[F.stddev_pop(c).alias(f"s_{c}") for c in cols],
        ).collect()[0]
        n = int(stats["n"])
        mean = {c: float(stats[f"m_{c}"]) for c in cols}
        std = {c: float(stats[f"s_{c}"]) or 1.0 for c in cols}

        def zcol(c: str):
            return (F.col(c) - mean[c]) / std[c]

        w = [0.0] * (len(cols) + 1)  # [bias, ...]
        # The epoch loop is 30 sequential GLOBAL aggregates over a cached
        # delta-sized projection. AQE buys nothing here — a global agg always
        # reduces to one exchange partition — but charges per-epoch adaptive
        # re-planning and an extra query-stage job per epoch (measured on the
        # neardup admission tick loop). Scoped off for the loop; the
        # physical aggregation tree (partial → single final) is unchanged, so
        # gradient values are bit-identical.
        no_aqe = {"spark.sql.adaptive.enabled": "false"}
        with session_conf(labeled.sparkSession, no_aqe):
            for _ in range(epochs):
                z = F.lit(w[0])
                for j, c in enumerate(cols):
                    z = z + F.lit(w[j + 1]) * zcol(c)
                p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
                err = p - F.col(label_col)
                grads = proj.agg(
                    F.sum(err).alias("g0"),
                    *[
                        F.sum(err * zcol(c)).alias(f"g{j + 1}")
                        for j, c in enumerate(cols)
                    ],
                ).collect()[0]
                for j in range(len(w)):
                    w[j] -= lr * float(grads[f"g{j}"]) / n
    # fold the standardization back so the returned weights apply to
    # RAW features: w0' = w0 - sum(wj*mj/sj), wj' = wj/sj
    bias = w[0] - sum(w[j + 1] * mean[c] / std[c] for j, c in enumerate(cols))
    return [bias] + [w[j + 1] / std[c] for j, c in enumerate(cols)]


def train_logreg_local(rows: list, epochs: int = 30, lr: float = 4.0) -> list:
    """numpy-free pure reference of the same GD (unit gate): rows are
    (y, f_1..f_k) tuples; same standardization, same updates."""
    n = len(rows)
    k = len(rows[0]) - 1
    mean = [sum(r[j + 1] for r in rows) / n for j in range(k)]
    var = [
        sum((r[j + 1] - mean[j]) ** 2 for r in rows) / n for j in range(k)
    ]
    std = [math.sqrt(v) or 1.0 for v in var]
    z_rows = [
        (r[0], [(r[j + 1] - mean[j]) / std[j] for j in range(k)]) for r in rows
    ]
    w = [0.0] * (k + 1)
    for _ in range(epochs):
        g = [0.0] * (k + 1)
        for y, x in z_rows:
            z = w[0] + sum(w[j + 1] * x[j] for j in range(k))
            p = 1.0 / (1.0 + math.exp(-z))
            g[0] += p - y
            for j in range(k):
                g[j + 1] += (p - y) * x[j]
        for j in range(k + 1):
            w[j] -= lr * g[j] / n
    bias = w[0] - sum(w[j + 1] * mean[j] / std[j] for j in range(k))
    return [bias] + [w[j + 1] / std[j] for j in range(k)]


def score(
    feats: DataFrame,
    weights: list,
    feature_cols: list,
    label_col: str = "y",
    keep_cols: tuple = (),
) -> DataFrame:
    """p = sigmoid(w·x) per document with the given (trained) weights —
    one map-side pass. ``keep_cols`` carries extra input columns (e.g.
    the label) through, so a downstream accuracy check needs no
    re-join. NOTE: for the oracle-backed integer-logit gate use
    score_fixed instead."""
    z = F.lit(float(weights[0]))
    for j, c in enumerate(feature_cols):
        z = z + F.lit(float(weights[j + 1])) * F.col(c)
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return feats.select(
        "doc_id",
        p.alias("p"),
        (p > 0.5).cast("int").alias("keep"),
        *[F.col(c) for c in keep_cols],
    )


def score_fixed(feats: DataFrame, int_weights: list) -> DataFrame:
    """Exact integer logit with FIXED weights [b, w_1..w_k]: logit =
    b + Σ w_j * f_j, keep = logit > 0. Pure 64-bit integer arithmetic —
    the driver's oracle replays it bit-for-bit."""
    z = F.lit(int(int_weights[0])).cast("long")
    for j in range(1, len(int_weights)):
        name = FEATURES[j - 1][0]
        z = z + F.lit(int(int_weights[j])).cast("long") * F.col(name)
    return feats.select(
        "doc_id",
        z.alias("logit"),
        # NULL text ⇒ NULL features ⇒ NULL logit; a filter must REJECT
        # such docs, and SQL CASE WHEN ... ELSE 0 oracles agree on 0
        F.coalesce((z > 0).cast("int"), F.lit(0)).alias("keep"),
    )


def accuracy(scored_with_label: DataFrame, pred_col: str = "keep",
             label_col: str = "y") -> float:
    row = scored_with_label.agg(
        F.avg((F.col(pred_col) == F.col(label_col)).cast("double")).alias("acc")
    ).collect()[0]
    return float(row["acc"])
