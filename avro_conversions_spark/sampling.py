"""Deterministic sampling and dataset-split assignment.

A 100 TB training-data pipeline cannot use ``rand()`` for train/val/test
splits: re-runs must assign every document to the SAME split (resumable
jobs, incremental ingest, audits), regardless of partitioning, executor
count, or row order. The standard technique is hash-bucketing — assign by
a stable hash of the document id, so membership is a pure function of the
row. Everything here is expression-only (whole-stage codegen, no UDFs,
no shuffles for the assignment itself) and md5-derived so the DuckDB
oracle reproduces every assignment bit-for-bit (swap to xxhash64 for
production throughput, same pattern as dedup's ``hash_fn``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BUCKETS = 1_000_000


def hash_bucket(c: Column, seed: int = 0, buckets: int = _BUCKETS) -> Column:
    """Stable bucket in [0, buckets) from the md5 of (seed, value) — the
    first 8 hex digits as an integer, mod buckets. Identical arithmetic
    is expressible in DuckDB, which keeps splits oracle-checkable."""
    h = F.conv(F.substring(F.md5(F.concat_ws("_", F.lit(seed), c.cast("string"))), 1, 8), 16, 10)
    return F.pmod(h.cast("long"), F.lit(buckets))


def split_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    seed: int = 0,
) -> DataFrame:
    """Adds a ``split`` column assigning each row to a named split with
    the given weights (fractions summing to ~1). Assignment is a pure
    function of (seed, id): stable under re-runs, repartitioning, and
    incremental appends — new rows never move old rows between splits
    (the property ``df.sample``/``randomSplit`` cannot give you).

    Weights are applied as cumulative thresholds over a million-bucket
    hash, so a 0.5% validation split resolves exactly."""
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    if not weights or any(w < 0 for w in weights.values()):
        raise ValueError(f"invalid split weights {weights!r}")
    total = sum(weights.values())
    b = hash_bucket(F.col(id_col), seed)
    expr: Column | None = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w / total
        cond = b < int(round(acc * _BUCKETS))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn("split", expr)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fraction: float,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic per-stratum sample: keeps ~``fraction`` of each
    stratum by hashing (seed, stratum, id). Unlike ``sampleBy`` this is
    reproducible row-for-row and needs no fraction dict per key — every
    stratum gets the same rate, enforced by the same hash arithmetic the
    oracle can replay. The filter is a pure Column predicate: it pushes
    into the scan and costs no shuffle."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    key = F.concat_ws("_", F.col(strata_col).cast("string"), F.col(id_col).cast("string"))
    return df.where(hash_bucket(key, seed) < int(round(fraction * _BUCKETS)))


def pack_sequences(
    df: DataFrame,
    budget: int,
    n_tokens_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    seed: int = 0,
) -> DataFrame:
    """GPT-style sequence packing at document granularity: lay documents
    end-to-end and cut fixed ``budget``-token training sequences, letting
    a document straddle a cut (concat-and-split — the standard LM
    pretraining layout, where sequence boundaries fall mid-document and
    the remainder flows into the next pack).

    Global greedy packing is a serial recurrence; the scalable layout
    packs independently inside deterministic md5 hash buckets (same
    arithmetic as ``hash_bucket``, so assignment is a pure function of
    (seed, id) — stable under re-runs, repartitioning and appends).
    Within a bucket, documents are laid out in ``id_col`` order and the
    pack index is pure prefix arithmetic over the running token sum — no
    recurrence, one window per bucket. The only waste vs a global layout
    is one partial trailing pack per bucket, negligible when buckets hold
    thousands of documents; ``n_buckets`` should be ≥ cluster cores so
    the single hash-partition exchange parallelizes and no task sorts
    more than corpus/n_buckets documents.

    Returns the input's id plus (n_tokens, bucket, pack_id, pack_offset,
    spans_boundary): ``pack_id`` is the bucket-local sequence the document
    STARTS in, ``pack_offset`` its start position there, and
    ``spans_boundary`` is true when the document crosses into the next
    pack.

    If ``n_tokens_col`` is None, token counts are whitespace counts of
    ``text_col`` (swap in a real tokenizer's counts upstream for
    production budgets).
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    from pyspark.sql import Window

    from avro_conversions_spark.functions import text as TXT

    n_tok = (
        F.col(n_tokens_col)
        if n_tokens_col
        else TXT.token_count(F.col(text_col))
    ).cast("long")
    base = df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        hash_bucket(F.col(id_col), seed, n_buckets).alias("bucket"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    start = cum - F.col("n_tokens")
    return base.select(
        id_col,
        "n_tokens",
        "bucket",
        F.floor(start / budget).alias("pack_id"),
        F.pmod(start, F.lit(budget)).alias("pack_offset"),
        (F.floor(start / budget) != F.floor((cum - 1) / budget)).alias(
            "spans_boundary"
        ),
    )


def chunk_documents(
    df: DataFrame,
    window: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RAG/pretraining-style document chunking: split every document into
    fixed-size token windows of ``window`` tokens advancing by ``stride``
    (overlap = window − stride), the standard context-window prep for
    retrieval corpora and long-document training.

    Chunk-count contract (pure integer arithmetic, so the DuckDB oracle
    replays placement exactly): n ≤ window → 1 chunk; otherwise
    ``floor((n − window + stride − 1)/stride) + 1`` — starts at
    0, stride, 2·stride, …, and the last window always covers the tail
    (a trailing chunk may be shorter than ``window`` but is never
    re-padded). NULL text → no chunks (failure-as-rows at the feature
    level); empty/whitespace text chunks its (possibly empty-string)
    tokens like any other — never a crash.

    Returns (id_col, chunk_idx, n_chunk_tokens, chunk).

    Scale shape: ZERO exchanges — a staged tokenize projection, a
    row-local window-index transform, and one explode; chunking rides
    whatever scan partitioning the input already has (plan pinned by
    test). Token arrays are staged as real columns per the repo's
    lambda-CSE discipline.
    """
    if stride < 1 or window < 1 or stride > window:
        raise ValueError(f"need 1 <= stride <= window, got {window=} {stride=}")
    staged = df.select(
        F.col(id_col), F.split(F.lower(F.col(text_col)), r"\s+").alias("_toks")
    )
    n = F.size(F.col("_toks"))
    n_chunks = F.when(
        n > window, F.floor((n - window + stride - 1) / stride) + 1
    ).otherwise(F.lit(1))
    chunks = F.when(
        F.col("_toks").isNotNull(),
        F.transform(
            F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
            lambda i: F.struct(
                i.cast("int").alias("chunk_idx"),
                F.slice(F.col("_toks"), i * stride + 1, window).alias("_ct"),
            ),
        ),
    )  # NULL text -> NULL array -> explode drops the row (no chunks)
    return (
        staged.select(F.col(id_col), F.explode(chunks).alias("_c"))
        .select(
            id_col,
            F.col("_c.chunk_idx").alias("chunk_idx"),
            F.size("_c._ct").alias("n_chunk_tokens"),
            F.concat_ws(" ", "_c._ct").alias("chunk"),
        )
    )
