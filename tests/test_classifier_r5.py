"""Round-5: hashed-BOW logistic-regression quality classifier.
Oracle value parity is covered by the driver crosscheck
(quality_classifier_documents); these are planted-structure and
exact-arithmetic tests."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from avro_conversions_spark.functions import classifier as CLF


def _train_score(spark, rows, **kw):
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    w = CLF.train_lr(df, "y", **kw)
    out = CLF.score_lr(df.select("doc_id", "text"), w)
    return w, {r["doc_id"]: (r["score"], r["predicted"]) for r in out.collect()}


def test_separable_corpus_learned(spark):
    rows = [(i, "foo foo foo", 1) for i in range(10)] + [
        (100 + i, "bar bar bar", 0) for i in range(10)
    ]
    _, scores = _train_score(spark, rows, n_buckets=32, iters=5, lr=5.0)
    assert all(scores[i][1] is True for i in range(10))
    assert all(scores[100 + i][1] is False for i in range(10))
    assert min(scores[i][0] for i in range(10)) > max(
        scores[100 + i][0] for i in range(10)
    )


def test_repeated_train_ids_raise(spark):
    # a repeated id would merge both rows' features into one margin
    df = spark.createDataFrame(
        [(1, "foo", 1), (1, "bar", 0), (2, "baz", 0)], "doc_id long, text string, y int"
    )
    with pytest.raises(ValueError, match="unique"):
        CLF.train_lr(df, "y", n_buckets=8, iters=1)


def test_first_iteration_gradient_exact(spark):
    # zero init -> sigmoid(0)=0.5 -> err = 0.5 - y exactly; one doc per
    # class, single-token texts with known buckets
    rows = [(1, "foo", 1), (2, "bar", 0)]
    w, _ = _train_score(spark, rows, n_buckets=8, iters=1, lr=1.0)
    b_foo = int(hashlib.md5(b"foo").hexdigest()[:8], 16) % 8
    b_bar = int(hashlib.md5(b"bar").hexdigest()[:8], 16) % 8
    assert b_foo != b_bar  # planted corpus assumption
    # tf = 1.0 for the single token; n=2; grad[foo] = (0.5-1)*1 = -0.5
    # w = 0 - lr * grad / n = +0.25
    assert math.isclose(w[b_foo], 0.25)
    assert math.isclose(w[b_bar], -0.25)
    # bias gradient: (0.5-1)+(0.5-0) = 0 -> unchanged
    assert w[8] == 0.0


def test_gibberish_negatives_deterministic_md5(spark):
    df = spark.createDataFrame([(35, "x")], "doc_id long, text string")
    neg = CLF.gibberish_negatives(df, n_tokens=3).collect()[0]
    expect = " ".join(
        hashlib.md5(f"35_{j}".encode()).hexdigest()[:8] for j in (1, 2, 3)
    )
    assert neg["doc_id"] == -36 and neg["text"] == expect


def test_empty_text_scored_via_bias(spark):
    rows = [(1, "foo bar baz", 1), (2, "", 0)]
    _, scores = _train_score(spark, rows, n_buckets=8, iters=2, lr=1.0)
    assert 2 in scores and scores[2][0] is not None


def test_realness_separates_on_testdata(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    neg = CLF.gibberish_negatives(docs)
    train = (
        docs.select("doc_id", "text")
        .withColumn("y", F.lit(1))
        .unionByName(neg.withColumn("y", F.lit(0)))
    )
    w = CLF.train_lr(train, "y", n_buckets=256, iters=5, lr=5.0)
    scored = CLF.score_lr(train.select("doc_id", "text"), w)
    means = {
        r["real"]: r["m"]
        for r in scored.groupBy((F.col("doc_id") >= 0).alias("real"))
        .agg(F.avg("score").alias("m"))
        .collect()
    }
    assert means[True] > means[False]