"""Approximate-nearest-neighbor search over embedding columns.

- brute-force cosine top-k: exact baseline. The query set is broadcast
  (small side), so the corpus is scanned once with no shuffle of the
  corpus itself; per-query top-k via window rank over (query, corpus)
  scores. Cost O(|Q|·|C|) — correct tool when |Q| is small.
- LSH-bucketed ANN: random-hyperplane signatures (deterministic seeds)
  bucket the corpus; queries only score candidates sharing ≥1 band.
  This is the 100 TB path: corpus signature table is computed once and
  reusable; the probe join is bucket-local.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from avro_conversions_spark.functions.vectors import (
    dist2,
    dot_double,
    stage_vec,
    staged_cos,
    to_double,
)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k neighbors per query: (qid, rank, nid, cos).
    Deterministic tie-break on neighbor id."""
    q = stage_vec(
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("_qv")),
        "_qv", "_qv", "_qn",
    )
    c = stage_vec(
        corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("_nv")),
        "_nv", "_nv", "_nn",
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            F.round(
                staged_cos(F.col("_qv"), F.col("_qn"), F.col("_nv"), F.col("_nn")), 6
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "nid", "cos")
    )


def _hyperplane(dim: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit hyperplane (pure function of seed —
    reproducible across cluster sizes, unlike RNG-state approaches)."""
    # simple LCG; quality is adequate for LSH bucketing
    vals = []
    x = (seed * 2654435761 + 104729) % (2**31)
    for _ in range(dim):
        x = (1103515245 * x + 12345) % (2**31)
        vals.append((x / 2**31) * 2.0 - 1.0)
    n = math.sqrt(sum(v * v for v in vals)) or 1.0
    return [v / n for v in vals]


def lsh_signature(df: DataFrame, vec_col: str, dim: int, n_planes: int = 16, seed: int = 7):
    """Add a bit-signature column from ``n_planes`` random hyperplanes.

    Round 6: the signature is ONE ``transform`` over a single nested
    plane-matrix literal instead of n_planes separately-built dot folds —
    building 24 independent Column trees cost ~2.8 s of driver-side py4j
    time per call (measured; the JVM work was never the bottleneck). Per
    plane, the dot and its sign bit are the identical float ops, so
    signatures are bit-for-bit unchanged, including the all-zeros
    signature a NULL/ragged vector produced before (NULL dot → sign bit
    '0'), which the explicit otherwise-branch pins. The vector is cast to
    double ONCE as a staged column; the size() probe in the guard is the
    second reference that keeps CollapseProject from inlining the cast
    into the lambda (n_planes re-evaluations per row otherwise — the
    round-4 minhash trap)."""
    planes = [_hyperplane(dim, seed + i) for i in range(n_planes)]
    staged = df.withColumn("_lsh_v", to_double(F.col(vec_col)))
    from avro_conversions_spark.functions.vectors import const_double_matrix

    planes_lit = const_double_matrix(planes)
    bits = F.transform(
        planes_lit,
        lambda p: F.when(dot_double(F.col("_lsh_v"), p) > 0, F.lit("1")).otherwise(
            F.lit("0")
        ),
    )
    # NULL/ragged vector → size() is NULL → otherwise-branch: the same
    # all-'0' signature the historical per-plane concat emitted (a
    # foldable constant — zero runtime cost).
    sig = F.when(F.size(F.col("_lsh_v")) >= 0, F.array_join(bits, "")).otherwise(
        F.lit("0" * n_planes)
    )
    return staged.withColumn("sig", sig).drop("_lsh_v")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 7,
    max_iter: int = 5,
    fit_sample: int = 100_000,
) -> DataFrame:
    """IVF (inverted-file) ANN: a coarse k-means quantizer (pyspark.ml,
    seeded → deterministic) partitions the corpus into ``n_lists`` cells;
    each query scans only its ``n_probe`` nearest cells. The 100 TB shape:
    the quantizer trains ONCE on a seeded Bernoulli sample capped at
    ``fit_sample`` vectors (k-means centroids don't need the tail — at
    10^9+ vectors a full-corpus fit would be maxIter+1 full scans of the
    vector column), cell assignment is a single narrow pass persisted
    alongside the corpus, and the probe join touches n_probe/n_lists of
    the data — versus lsh_topk's banded signatures, IVF adapts to the
    data distribution (cells follow density).

    Returns (qid, rank, nid, cos) like brute_force_topk/lsh_topk."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    # index only VALID vectors: NULL or off-dimension rows break the
    # pyspark.ml fit/transform (round-5 adversarial sweep) and can never
    # be meaningful neighbors — the dimension is set by the smallest-id
    # non-null corpus vector, mirroring clustering.kmeans_fit_assign
    nn = corpus.where(F.col(vec_col).isNotNull())
    head = nn.orderBy(id_col).select(F.size(vec_col).alias("d")).head()
    if head is None:
        raise ValueError("no non-null corpus vectors to index")
    corpus = nn.where(F.size(vec_col) == head["d"])
    queries = queries.where(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == head["d"])
    )
    c_feat = stage_vec(
        corpus.select(
            F.col(id_col).alias("nid"),
            F.col(vec_col).alias("nvec"),
            array_to_vector(to_double(F.col(vec_col))).alias("features"),
        ),
        "nvec", "_nv", "_nn",
    ).select("nid", "_nv", "_nn", "features")
    km = KMeans(k=n_lists, seed=seed, maxIter=max_iter, initMode="k-means||")
    # sample the fit set: one metadata-cheap count + one narrow Bernoulli
    # scan of the features column, instead of maxIter+1 full-corpus scans
    n_corpus = corpus.count()
    fit_df = c_feat.select("features")
    if n_corpus > fit_sample:
        fit_df = fit_df.sample(False, fit_sample / n_corpus, seed)
    model = km.fit(fit_df)
    assigned = model.transform(c_feat).select(
        "nid", "_nv", "_nn", F.col("prediction").alias("cell")
    )

    # query-side probe list: distances to the (tiny, driver-held) centroid
    # set as a literal array — no join against the model needed
    centers = [list(map(float, c)) for c in model.clusterCenters()]
    from avro_conversions_spark.functions.vectors import const_double_matrix

    cent_arr = const_double_matrix(centers)
    q_feat = stage_vec(
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")),
        "qvec", "qvec", "_qn",
    )
    ranked_cells = F.slice(
        F.array_sort(
            F.transform(
                cent_arr,
                lambda c, i: F.struct(
                    dist2(F.col("qvec"), c).alias("d"), i.alias("cell")
                ),
            )
        ),
        1,
        n_probe,
    )
    probes = q_feat.select(
        "qid", "qvec", "_qn", F.explode(ranked_cells).alias("p")
    ).select("qid", "qvec", "_qn", F.col("p.cell").alias("cell"))

    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            F.round(
                staged_cos(F.col("qvec"), F.col("_qn"), F.col("_nv"), F.col("_nn")), 6
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "nid", "cos")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 16,
    band_size: int = 4,
    seed: int = 7,
) -> DataFrame:
    """ANN top-k: score only corpus vectors sharing at least one signature
    band with the query. Returns (qid, rank, nid, cos) — a subset of the
    brute-force result with high recall at a fraction of the comparisons."""
    n_bands = n_planes // band_size
    # stage double vector + norm per ROW before banding: the cosine after
    # the candidate join then costs one dot fold per pair (see stage_vec)
    c_sig = lsh_signature(
        stage_vec(
            corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("_nv")),
            "_nv", "_nv", "_nn",
        ),
        "_nv", dim, n_planes, seed,
    )
    q_sig = lsh_signature(
        stage_vec(
            queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("_qv")),
            "_qv", "_qv", "_qn",
        ),
        "_qv", dim, n_planes, seed,
    )

    def banded(df: DataFrame, sig: str) -> DataFrame:
        bands = F.array(
            *[
                F.struct(
                    F.lit(i).alias("band"),
                    F.substring(F.col(sig), i * band_size + 1, band_size).alias("key"),
                )
                for i in range(n_bands)
            ]
        )
        return df.select("*", F.explode(bands).alias("b")).select(
            *df.columns, F.col("b.band").alias("band"), F.col("b.key").alias("band_key")
        ).drop(sig)

    cand = (
        banded(c_sig, "sig")
        .join(F.broadcast(banded(q_sig, "sig")), ["band", "band_key"])
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "_qv", "_qn", "nid", "_nv", "_nn")
        .dropDuplicates(["qid", "nid"])
    )
    scored = cand.select(
        "qid",
        "nid",
        F.round(
            staged_cos(F.col("_qv"), F.col("_qn"), F.col("_nv"), F.col("_nn")), 6
        ).alias("cos"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "nid", "cos")
    )


# ----------------------------------------------------------------- BM25


def bm25_search(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "query_id",
    qtext_col: str = "query",
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 10,
) -> DataFrame:
    """BM25 full-text retrieval (Robertson/Lucene variant): top-``topk``
    documents per query, scored

        Σ_t∈q  ln(1 + (N − df_t + 0.5)/(df_t + 0.5))
               · tf_td / (tf_td + k1·(1 − b + b·len_d/avgdl))

    over lowercased whitespace terms (query terms deduplicated — each
    distinct term counts once, the common web-search convention). N and
    avgdl are computed over documents with ≥ 1 token. Returns
    (qid_col, rank, id_col, score) with score rounded to 4dp
    (absorbs ln/sum-order ulp drift) and rank ties broken by lower id.

    Scale shape: the only corpus-sized exchange is the (doc, term)
    tf aggregation. Document frequencies are joined against the
    (broadcast) query-term set FIRST, so the idf table is |query
    vocab| rows — broadcast back onto tf; the corpus-wide vocabulary
    is never shuffled. Top-k per query rides Spark's WindowGroupLimit
    rewrite (rank filter pushed below the window): every map task keeps
    only its local top-``topk`` per query BEFORE the exchange, so the
    per-query reducer sees ≤ topk·P rows, never the corpus — plan shape
    pinned by test (a hand-salted two-phase rank would add an exchange
    for nothing; verified on the executed plan).
    """
    toks = docs.select(
        F.col(id_col).alias("did"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("term"),
    )
    tf = toks.groupBy("did", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    dlen = toks.groupBy("did").agg(F.count(F.lit(1)).cast("double").alias("dl"))
    stats = dlen.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    qterms = queries.select(
        F.col(qid_col).alias("qid"),
        F.explode(
            F.array_distinct(F.split(F.lower(F.col(qtext_col)), r"\s+"))
        ).alias("term"),
    )
    # df over query terms only: semi-restrict the corpus df computation
    # to the (tiny, broadcast) query vocabulary before aggregating
    qvocab = qterms.select("term").distinct()
    dfreq = (
        tf.join(F.broadcast(qvocab), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("df"))
    )
    idf = (
        dfreq.crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ).alias("idf"),
            "avgdl",
        )
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(idf), "term")
        .join(dlen, "did")
        .groupBy("qid", "did")
        .agg(
            F.round(
                F.sum(
                    F.col("idf")
                    * F.col("tf")
                    / (
                        F.col("tf")
                        + F.lit(k1)
                        * (
                            F.lit(1.0 - b)
                            + F.lit(b) * F.col("dl") / F.col("avgdl")
                        )
                    )
                ),
                4,
            ).alias("score")
        )
    )
    final = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("did"))
    return (
        scored.withColumn("rank", F.row_number().over(final))
        .where(F.col("rank") <= topk)
        .select(
            F.col("qid").alias(qid_col),
            "rank",
            F.col("did").alias(id_col),
            "score",
        )
    )
