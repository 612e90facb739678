"""Hashed bag-of-words logistic-regression document classifier.

The production quality filter in GPT-3/LLaMA-style pipelines is a tiny
linear classifier (fastText / hashed-BOW LR) over token features,
trained on a labeled slice and applied to the whole corpus. This module
trains that classifier INSIDE the engine with a fully deterministic
contract, so both training and scoring are reproducible by the DuckDB
oracle:

- features: token → md5 hash bucket in [0, n_buckets) (the portable
  arithmetic of sampling.hash_bucket), tf-NORMALIZED counts per
  (doc, bucket) — raw counts saturate the sigmoid on long documents
  (measured: every score collapses to ~0), normalized term frequency
  is the fastText mean-pooling shape and keeps margins bounded;
- labels: the production self-supervised setup (GPT-3's WebText-vs-
  CommonCrawl filter) — real documents are positives, deterministic
  gibberish documents (``gibberish_negatives``) are negatives, and the
  learned "realness" becomes the quality score. Any other 0/1 label
  column works the same way;
- training: full-batch gradient descent, fixed iteration count,
  weights initialized to zero, bias included as bucket index
  ``n_buckets`` with constant feature 1. Weights are driver-held
  (n_buckets+1 doubles — KBs) and broadcast as a literal array each
  step, exactly the k-means centroid pattern;
- scoring: sigmoid of the sparse dot product, rounded to 4dp.

Scale shape: the (doc, bucket, count) feature frame is tokenized and
aggregated ONCE (one corpus scan), staged via localCheckpoint; each GD
step is then a window-margin projection over the staged rows followed by
groupBy(bucket) with map-side partial aggregation, so the per-step
shuffle payload is the narrow staged rows plus n_buckets+1 partials per
task, never the token stream. Scoring is a
single narrow pass (literal weights, no join, no shuffle). The only
driver state is the weight vector, identical in footprint to
pyspark.ml's own LR aggregator.

Reference parity: the reference engine has no ML surface; this extends
the §2.8 training-pipeline operators (task brief: quality scoring as a
first-class curation component at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from avro_conversions_spark.functions.vectors import const_double_array


def token_buckets(text: Column, n_buckets: int) -> Column:
    """Lowercased whitespace tokens → md5 hash buckets (array<long>).
    Same md5-prefix arithmetic as sampling.hash_bucket so the oracle
    reproduces every bucket id."""
    return F.transform(
        F.split(F.lower(text), r"\s+"),
        lambda w: F.pmod(
            F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long"),
            F.lit(n_buckets),
        ),
    )


def gibberish_negatives(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_tokens: int = 20,
) -> DataFrame:
    """Deterministic negative examples for self-supervised quality
    training: one pseudo-document per input row (id → -id-1) whose
    tokens are md5-derived strings — never collides with a real id and
    is reproducible by the oracle (pure md5 arithmetic, no RNG)."""
    # stage the source id under a private name: inside a single select,
    # Spark resolves F.col(id_col) against the OUTPUT alias (-id-1), not
    # the input column (found live: md5 was computed over the negated id)
    src = df.select(F.col(id_col).alias("_src_id"))
    return src.select(
        (-F.col("_src_id") - 1).alias(id_col),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(n_tokens)),
                lambda j: F.substring(
                    F.md5(
                        F.concat(
                            F.col("_src_id").cast("string"),
                            F.lit("_"),
                            j.cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
            ),
        ).alias(text_col),
    )


def _features(
    df: DataFrame, id_col: str, text_col: str, n_buckets: int
) -> DataFrame:
    """(id, bucket, cnt) tf-normalized sparse counts + the constant bias
    feature (bucket = n_buckets, cnt = 1)."""
    base = df.select(
        F.col(id_col), token_buckets(F.col(text_col), n_buckets).alias("tb")
    )
    tok = base.select(
        F.col(id_col),
        F.size("tb").cast("double").alias("tot"),
        F.explode("tb").alias("bucket"),
    )
    counts = tok.groupBy(id_col, "bucket").agg(
        (F.count(F.lit(1)) / F.max("tot")).alias("cnt")
    )
    bias = df.select(
        F.col(id_col),
        F.lit(n_buckets).cast("long").alias("bucket"),
        F.lit(1.0).alias("cnt"),
    )
    return counts.unionByName(bias)


def _margin(weights: list[float]) -> Column:
    """Σ w[bucket]·cnt over a doc's (bucket, cnt) pairs, as an agg over
    the exploded feature rows with the weight vector a literal array."""
    w = const_double_array(weights)  # one py4j call, not n_buckets+1
    # bucket is 0-based; element_at is 1-based
    return F.sum(
        F.element_at(w, (F.col("bucket") + 1).cast("int")) * F.col("cnt")
    )


def train_lr(
    train: DataFrame,
    label_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    iters: int = 3,
    lr: float = 1.0,
) -> list[float]:
    """Full-batch GD on logistic loss; returns the learned weight list
    (length n_buckets+1, last = bias). label_col must be 0/1 and id_col
    unique and non-null (else ValueError): a repeated id would merge its
    rows' features into one margin.

    Round-6 shape: the (feature ⋈ label) frame is staged ONCE via
    localCheckpoint and every GD step reads the materialized narrow rows.
    The per-doc margin is a window sum, so one step = one (doc_id)
    exchange of the staged rows + one bucket-keyed aggregation whose
    shuffle is ≤ n_buckets+1 partials per task — no joins. The historical
    loop paid 4 exchanges + 2 joins per step (groupBy(id) margins → join
    labels → join feats → groupBy(bucket)) and replayed the
    tokenize+hash+count lineage 2×iters times; the checkpoint reads the
    corpus once, which also supersedes the old ``persist_features`` knob
    on remote storage. Gradient values are the same Σ err·cnt per
    bucket — only float summation ORDER shifts (absorbed by the 4dp score
    rounding, same tolerance the DuckDB oracle already relies on)."""
    from pyspark.sql import Window

    feats = _features(train, id_col, text_col, n_buckets)
    labels = train.select(F.col(id_col), F.col(label_col).cast("double").alias("y"))
    n, n_ids = train.agg(F.count(F.lit(1)), F.count_distinct(id_col)).first()
    if n_ids != n:
        raise ValueError(
            f"train_lr needs unique non-null {id_col}: {n} rows, {n_ids} distinct ids"
        )
    # NOTE: no pre-partitioning before the checkpoint — under AQE the
    # LogicalRDD surfaces UnknownPartitioning, so a repartition here would
    # be paid once and then thrown away; each step's window inserts its
    # own (doc_id) exchange over the narrow staged rows instead.
    staged = feats.join(labels, id_col).localCheckpoint(eager=True)
    w_doc = Window.partitionBy(id_col)
    weights = [0.0] * (n_buckets + 1)
    for _ in range(iters):
        warr = const_double_array(weights)  # one py4j call per step
        z = F.sum(
            F.element_at(warr, (F.col("bucket") + 1).cast("int")) * F.col("cnt")
        ).over(w_doc)
        err = F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) - F.col("y")
        grad_rows = (
            staged.select("bucket", (err * F.col("cnt")).alias("_c"))
            .groupBy("bucket")
            .agg(F.sum("_c").alias("g"))
            .collect()
        )  # ≤ n_buckets+1 rows — driver-held by design
        for r in grad_rows:
            weights[r["bucket"]] -= lr * float(r["g"]) / n
    return weights


def score_lr(
    docs: DataFrame,
    weights: list[float],
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """(id, score rounded 4dp, predicted) — a single narrow pass over
    the corpus: literal weights, no join, no shuffle beyond the
    per-doc feature aggregation."""
    n_buckets = len(weights) - 1
    feats = _features(docs, id_col, text_col, n_buckets)
    z = _margin(weights)
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return feats.groupBy(id_col).agg(
        F.round(p, 4).alias("score"), (p >= threshold).alias("predicted")
    )
