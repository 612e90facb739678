"""Round-5 adversarial sweep regressions: one malformed vector (NULL,
ragged, or all-zero — all realistic failed-embedding shapes at corpus
scale) must never crash a job. Each case below was a live crash found
by running every embeddings query against an adversarial table."""

from __future__ import annotations

from pyspark.sql import functions as F

from avro_conversions_spark import clustering, similarity
from avro_conversions_spark.functions.vectors import (
    cosine,
    dist2,
    simhash_bits,
    stage_vec,
    staged_cos,
)


def _adv(spark):
    rows = [
        (0, [0.1] * 8),
        (1, [0.2] * 8),
        (2, None),        # failed embedding
        (3, [1.0]),       # ragged
        (4, [0.0] * 8),   # all-zero (norm 0)
        (5, [-0.5] * 8),
        (6, [0.3] * 8),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_null_for_zero_and_null_vectors(spark):
    df = _adv(spark)
    pairs = df.alias("a").crossJoin(df.alias("b")).select(
        F.col("a.vec_id").alias("ia"),
        F.col("b.vec_id").alias("ib"),
        cosine(F.col("a.embedding"), F.col("b.embedding")).alias("c"),
    )
    got = {(r["ia"], r["ib"]): r["c"] for r in pairs.collect()}  # no crash
    assert got[(0, 4)] is None and got[(4, 4)] is None  # zero norm
    assert got[(0, 2)] is None  # NULL side
    assert got[(0, 1)] is not None and got[(0, 1)] > 0.99

    # the staged kernels (each side cast + normed once, then staged_cos)
    # give cosine's exact value on every pair, NULL included
    a = stage_vec(df, "embedding", "va", "na").select(
        F.col("vec_id").alias("ia"), "va", "na"
    )
    b = stage_vec(df, "embedding", "vb", "nb").select(
        F.col("vec_id").alias("ib"), "vb", "nb"
    )
    staged = a.crossJoin(b).select(
        "ia",
        "ib",
        staged_cos(F.col("va"), F.col("na"), F.col("vb"), F.col("nb")).alias("c"),
        dist2(F.col("va"), F.col("vb")).alias("d2"),
    ).collect()
    assert {(r["ia"], r["ib"]): r["c"] for r in staged} == got
    d2 = {(r["ia"], r["ib"]): r["d2"] for r in staged}
    assert d2[(0, 2)] is None and d2[(2, 0)] is None  # NULL side
    assert d2[(0, 0)] == 0.0 and d2[(4, 4)] == 0.0  # identical vectors


def test_simhash_null_for_short_or_null_vectors(spark):
    df = _adv(spark)
    got = {
        r["vec_id"]: r["b"]
        for r in df.select(
            "vec_id", simhash_bits(F.col("embedding"), bits=8).alias("b")
        ).collect()
    }
    assert got[2] is None and got[3] is None
    assert got[0] is not None


def test_ivf_indexes_only_valid_vectors(spark):
    df = _adv(spark)
    out = similarity.ivf_topk(df, df.where("vec_id = 0"), k=3, n_lists=2, n_probe=2)
    nids = {r["nid"] for r in out.collect()}  # no fit/transform crash
    assert 2 not in nids and 3 not in nids  # malformed rows never neighbors


def test_kmeans_init_skips_invalid_vectors(spark):
    # ids 2 (NULL) and 3 (ragged) sit inside the k smallest ids — init
    # must skip them instead of crashing on the collect
    df = _adv(spark)
    got = {
        r["vec_id"]: r["cluster"]
        for r in clustering.kmeans_fit_assign(df, k=4, iters=2).collect()
    }
    assert got[2] is None and got[3] is None
    assert all(got[i] is not None for i in (0, 1, 4, 5, 6))