"""Column statistics + sketches (SURVEY.md §2.8 / build-plan step 3).

One aggregation pass computes every per-column metric — null rate,
min/max, avg length, cardinality — as a single groupBy/agg so the table
is scanned once. Cardinality comes in two flavors:

- exact ``count_distinct`` (used by the DuckDB-verified oracle queries);
- mergeable HyperLogLog sketches ``hll_sketch_agg`` / ``hll_union_agg``
  (Spark ≥3.5) — the 100 TB path: per-partition sketches merge without
  re-scanning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def exact_ndv_long(df: DataFrame, columns: list[str]) -> DataFrame:
    """Exact per-column NDV WITHOUT a multi-count_distinct Expand.

    N ``count_distinct`` in one agg makes Catalyst Expand the scan ×(N+1)
    and shuffle every distinct tuple — measured 48 s of a 186 s suite at
    sf0.1, a full-table ×5 exchange at 100 TB. Instead: unpivot to narrow
    (column, value) pairs, distinct-compact (map-side partial agg dedups
    before the shuffle, so the exchange carries distinct pairs only), then
    a tiny second agg counts per column."""
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"), F.col(c).cast("string").alias("v")
                    )
                    for c in columns
                ]
            )
        ).alias("p")
    ).select("p.*").where(F.col("v").isNotNull())
    return pairs.distinct().groupBy("column").agg(
        F.count(F.lit(1)).alias("n_distinct")
    )


def column_profile(
    df: DataFrame, columns: list[str] | None = None, ndv: str = "exact",
    approx_rsd: float = 0.05,
) -> DataFrame:
    """Long-form per-column profile: one row per column with
    (column, n_rows, n_nulls, null_rate, n_distinct, min_str, max_str,
    avg_len). String min/max compare lexically; all values are canonical
    strings so the schema is uniform.

    ndv: 'approx' (default for production scale — HLL++ in the SAME single
    pass, no extra scan or shuffle), 'exact' (adds a second, column-pruned
    pass via exact_ndv_long — the oracle-checked path), or 'none'."""
    columns = columns or df.columns
    aggs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
    for c in columns:
        col = F.col(c)
        aggs += [
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.min(col).cast("string").alias(f"{c}__min"),
            F.max(col).cast("string").alias(f"{c}__max"),
            F.round(F.avg(F.length(col.cast("string"))), 4).alias(f"{c}__avglen"),
        ]
        if ndv == "approx":
            aggs.append(F.approx_count_distinct(col, approx_rsd).alias(f"{c}__ndv"))
    wide = df.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.round(F.col(f"{c}__nulls") / F.col("n_rows"), 6).alias("null_rate"),
                (
                    F.col(f"{c}__ndv") if ndv == "approx" else F.lit(None).cast("long")
                ).alias("n_distinct"),
                F.col(f"{c}__min").alias("min_str"),
                F.col(f"{c}__max").alias("max_str"),
                F.col(f"{c}__avglen").alias("avg_len"),
            )
            for c in columns
        ]
    )
    out = wide.select(F.explode(per_col).alias("p")).select("p.*")
    if ndv != "exact":
        return out
    nd = exact_ndv_long(df, columns)
    return (
        out.drop("n_distinct")
        .join(F.broadcast(nd), "column", "left")
        .select(
            "column",
            "n_rows",
            "n_nulls",
            "null_rate",
            F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
            "min_str",
            "max_str",
            "avg_len",
        )
    )


def hll_sketches(df: DataFrame, columns: list[str], lg_k: int = 12) -> DataFrame:
    """Mergeable HLL sketches, one row per column: (column, sketch).
    Persist these as the baseline snapshot; merge later runs with
    ``hll_union_agg`` instead of re-scanning history."""
    aggs = [
        F.hll_sketch_agg(F.col(c).cast("string"), lg_k).alias(f"{c}__sk") for c in columns
    ]
    wide = df.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(F.lit(c).alias("column"), F.col(f"{c}__sk").alias("sketch"))
            for c in columns
        ]
    )
    return wide.select(F.explode(per_col).alias("p")).select("p.*")


def hll_estimate(sketches: DataFrame) -> DataFrame:
    return sketches.select(
        "column", F.hll_sketch_estimate("sketch").alias("ndv_estimate")
    )


def grouped_stats(
    df: DataFrame, group_cols: list[str], value_col: str, rollup: bool = True
) -> DataFrame:
    """Per-group + grand-total stats in ONE pass via rollup (partial agg
    map-side; no second scan for the global row)."""
    g = df.rollup(*group_cols) if rollup else df.groupBy(*group_cols)
    return g.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(value_col), 4).alias("sum_value"),
        F.round(F.avg(value_col), 4).alias("avg_value"),
        F.round(F.min(value_col), 4).alias("min_value"),
        F.round(F.max(value_col), 4).alias("max_value"),
    )


def exact_quantiles(
    df: DataFrame, column: str, probs: list[float] | None = None
) -> DataFrame:
    """Exact interpolated percentiles (matches SQL quantile_cont).
    For the 100 TB path use approx_quantiles below."""
    probs = probs or [0.25, 0.5, 0.75]
    qs = F.percentile(F.col(column), F.lit([float(p) for p in probs]))
    row = df.agg(qs.alias("qs"))
    pairs = F.array(
        *[
            F.struct(
                F.lit(p).alias("prob"),
                F.round(F.element_at(F.col("qs"), i + 1), 6).alias("value"),
            )
            for i, p in enumerate(probs)
        ]
    )
    return row.select(F.explode(pairs).alias("q")).select("q.*")


def approx_quantiles(
    df: DataFrame, column: str, probs: list[float] | None = None, accuracy: int = 10000
) -> DataFrame:
    """GK-sketch quantiles (percentile_approx) — single-pass, mergeable.
    Drift baselines use t-digest instead (constraints.drift)."""
    probs = probs or [0.25, 0.5, 0.75]
    qs = F.percentile_approx(F.col(column), F.lit([float(p) for p in probs]), accuracy)
    row = df.agg(qs.alias("qs"))
    pairs = F.array(
        *[
            F.struct(
                F.lit(p).alias("prob"),
                F.round(F.element_at(F.col("qs"), i + 1).cast("double"), 6).alias("value"),
            )
            for i, p in enumerate(probs)
        ]
    )
    return row.select(F.explode(pairs).alias("q")).select("q.*")


def vocab_topk(
    df: DataFrame, text_col: str = "text", k: int = 100, min_count: int = 1
) -> DataFrame:
    """Corpus vocabulary head: the k most frequent whitespace tokens with
    deterministic tie-breaking (count desc, then token asc) so the cut at
    rank k is stable across runs and engines.

    Scale shape: explode → two-phase hash aggregation (partial map-side
    combine collapses each partition's token stream to its local counts
    before the shuffle — the shuffle carries (token, partial_count), not
    tokens), then a single top-k sort over the surviving vocabulary.
    Vocabulary cardinality, not corpus size, bounds the sorted set; for
    zipfian text that is millions of rows off a 100 TB corpus, and
    ``min_count`` prunes the hapax tail before the sort when even that is
    too wide."""
    toks = df.select(F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("token"))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    if min_count > 1:
        counts = counts.where(F.col("n") >= min_count)
    return counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(k)


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Per-document n-gram repetition metrics — the Gopher-style
    repetition filters (Rae et al. 2021, "Scaling Language Models",
    §A1.1) every web-scale curation pipeline applies before training:

    - ``n_ngrams``     — total n-gram instances in the document;
    - ``dup_ngram_frac`` — fraction of n-gram instances whose n-gram
      occurs more than once in the document (portable instance-count
      definition; Gopher's variant weights by characters);
    - ``top_ngram_frac`` — fraction taken by the single most frequent
      n-gram (boilerplate / degenerate-repetition signal).

    Documents with fewer than ``n`` tokens produce no n-grams and are
    absent from the output (callers left-join and treat null as "too
    short to judge").

    Scale shape: explode → two-phase (doc, gram) hash aggregation —
    map-side partial agg collapses each partition's gram stream before
    the shuffle, so the exchange carries (doc_id, gram, partial_count),
    bounded by per-partition DISTINCT grams, not corpus token count —
    then a second partial-agg'd rollup to one row per document. No UDFs,
    no per-row state; the same two-phase shape as vocab_topk.
    """
    from avro_conversions_spark.functions import text as TXT

    toks = df.select(
        F.col(id_col), F.split(F.lower(F.col(text_col)), r"\s+").alias("_toks")
    )
    grams = toks.select(
        F.col(id_col),
        F.explode(TXT.ngrams_from_tokens(F.col("_toks"), n)).alias("gram"),
    )
    per_gram = grams.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
    tot = F.sum("c")
    return per_gram.groupBy(id_col).agg(
        tot.cast("long").alias("n_ngrams"),
        F.round(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))) / tot, 4
        ).alias("dup_ngram_frac"),
        F.round(F.max("c") / tot, 4).alias("top_ngram_frac"),
    )
