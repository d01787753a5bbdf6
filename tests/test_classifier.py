"""Logistic-regression quality classifier: Catalyst-aggregate GD ==
pure-Python reference within tolerance, perfect separation converges to
accuracy 1.0, featurization counts, exact integer scoring."""

from __future__ import annotations

import math

from fluss_iceberg_spark.operators.classifier import (
    FEATURES,
    accuracy,
    featurize,
    score,
    score_fixed,
    teacher_labels,
    train_logreg,
    train_logreg_local,
)

COLS = [name for name, _ in FEATURES]


def _toy_rows():
    # y determined by f_tokens vs f_chars margin: linearly separable
    rows = []
    for i in range(120):
        f_tokens = 5 + i % 20
        f_chars = 40 + (i * 7) % 120
        f_digits = i % 4
        f_punct = i % 6
        y = 1 if 8 * f_tokens + 4 * f_punct > f_chars else 0
        rows.append((i, y, f_tokens, f_chars, f_digits, f_punct))
    return rows


def test_featurize_counts(spark):
    docs = spark.createDataFrame(
        [(0, "ab 12, c!"), (1, "  x  "), (2, "nopunct")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in featurize(docs).collect()}
    assert (got[0]["f_tokens"], got[0]["f_chars"]) == (3, 9)
    assert (got[0]["f_digits"], got[0]["f_punct"]) == (2, 2)
    assert got[1]["f_tokens"] == 1  # trimmed
    assert got[2]["f_punct"] == 0


def test_score_fixed_is_exact_integer(spark):
    docs = spark.createDataFrame(
        [(0, "ab 12, c!"), (1, "x y z")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["logit"], r["keep"])
        for r in score_fixed(featurize(docs), [-40, 8, -1, 2, 4]).collect()
    }
    # doc 0: f = (3, 9, 2, 2): -40 + 24 - 9 + 4 + 8 = -13
    assert got[0] == (-13, 0)
    # doc 1: f = (3, 5, 0, 0): -40 + 24 - 5 = -21
    assert got[1] == (-21, 0)


def test_spark_gd_matches_local_reference(spark):
    rows = _toy_rows()
    df = spark.createDataFrame(
        rows, "doc_id long, y int, f_tokens long, f_chars long, "
        "f_digits long, f_punct long",
    ).coalesce(1)
    w_spark = train_logreg(df, COLS, epochs=15, lr=2.0)
    w_local = train_logreg_local(
        [(r[1], r[2], r[3], r[4], r[5]) for r in rows], epochs=15, lr=2.0
    )
    assert all(
        math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
        for a, b in zip(w_spark, w_local)
    )


def test_separable_teacher_converges_to_perfect_accuracy(spark):
    rows = _toy_rows()
    df = spark.createDataFrame(
        rows, "doc_id long, y int, f_tokens long, f_chars long, "
        "f_digits long, f_punct long",
    )
    w = train_logreg(df, COLS, epochs=60, lr=4.0)
    scored = score(df, w, COLS).join(df.select("doc_id", "y"), "doc_id")
    assert accuracy(scored) == 1.0


def test_teacher_labels_match_rule(spark):
    docs = spark.createDataFrame(
        [(0, "a b c d e f g h."), (1, "x" * 200)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["y"] for r in teacher_labels(featurize(docs)).collect()}
    # doc 0: tokens=8, chars=17, punct=1 -> 64 + 4 > 17 -> 1
    # doc 1: tokens=1, chars=200, punct=0 -> 8 < 200 -> 0
    assert got == {0: 1, 1: 0}

