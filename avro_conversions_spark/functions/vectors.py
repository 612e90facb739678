"""Vector math over array<float> embedding columns.

Built on F.zip_with / F.aggregate (JVM higher-order functions) — stays in
whole-stage codegen, no UDF. Everything computes in float64 after an
explicit cast so results are reproducible against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def to_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot_double(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns — the one multiply-add
    fold. Callers that already hold double arrays (staged by
    ``stage_vec``) skip ``dot``'s per-element cast: each ``to_double``
    allocates a fresh array per evaluation, which matters in pair-join
    hot paths where a dot runs once per candidate pair."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot(a: Column, b: Column) -> Column:
    return dot_double(to_double(a), to_double(b))


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def dist2(a: Column, b: Column) -> Column:
    """Squared L2 distance between two double arrays — a sequential
    left-fold (F.aggregate), so the floating-point summation order is
    pinned left-to-right on both engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def stage_vec(df: DataFrame, vec_col: str, v_out: str, n_out: str) -> DataFrame:
    """Stage (double vector, its L2 norm) as real columns ``v_out`` and
    ``n_out`` (``v_out`` may be ``vec_col`` itself: cast in place). The
    vector is referenced ≥2× downstream, so CollapseProject keeps the
    projection materialized, and a pair join after it pays one
    ``staged_cos`` dot fold per pair instead of dot + two norms + six
    per-pair array casts."""
    return df.withColumn(v_out, to_double(F.col(vec_col))).withColumn(
        n_out, F.sqrt(dot_double(F.col(v_out), F.col(v_out)))
    )


def staged_cos(va: Column, na: Column, vb: Column, nb: Column) -> Column:
    """Cosine of double vectors ``va``/``vb`` given their norms ``na``/``nb``.
    NULL for undefined similarity (either side NULL, ragged, or all-zero):
    a NULL norm or dot propagates, and a zero denominator yields NULL
    instead of an ANSI DIVIDE_BY_ZERO — one zero vector (a failed
    embedding, realistic at corpus scale) must not crash every
    cosine-scoring job (round-5 adversarial sweep)."""
    denom = na * nb
    return F.when(denom > 0, dot_double(va, vb) / denom)


def cosine(a: Column, b: Column) -> Column:
    """``staged_cos`` with the cast and norms computed inline — the same
    float ops in the same order, so scores are bit-identical to staging
    each side first with ``stage_vec``."""
    return staged_cos(to_double(a), norm(a), to_double(b), norm(b))


def simhash_bits(v: Column, bits: int = 16) -> Column:
    """SimHash of an embedding: sign bits of the first ``bits`` dimensions
    packed into a long — a cheap LSH bucket key for near-duplicate grouping
    of dense vectors. NULL for NULL or shorter-than-``bits`` vectors: under
    ANSI mode element_at past the end is a job-killing
    INVALID_ARRAY_INDEX (round-5 adversarial sweep), and a NULL bucket
    never joins, so malformed vectors simply can't pair."""
    idx = F.sequence(F.lit(1), F.lit(bits))
    packed = F.aggregate(
        F.transform(
            idx,
            lambda i: F.when(F.element_at(v, i.cast("int")) > 0, F.lit(1)).otherwise(F.lit(0))
            * F.pow(F.lit(2.0), (i - 1).cast("double")).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.when(F.size(v) >= bits, packed)


def const_double_array(values) -> Column:
    """array<double> literal built in ONE py4j call via a SQL text
    expression. PySpark's ``F.lit(list)`` recurses into one ``lit`` py4j
    round trip per element (measured 0.77 s for a 24×64 matrix), which
    dominates driver-side plan build for iterative operators re-issuing
    centroid/weight literals every step; ``F.expr`` ships one string and
    parses on the JVM (~5 ms). ``repr`` emits the shortest decimal that
    round-trips the double and Java's parser is correctly rounded, so the
    literal values are bit-identical to the F.lit form (pinned by test).
    Non-finite values (inf/nan) have no SQL literal — fall back to F.lit.
    An empty list still types as array<double>."""
    import math

    vals = [float(v) for v in values]
    if not vals:
        return F.array().cast("array<double>")
    if all(math.isfinite(v) for v in vals):
        return F.expr("array(" + ",".join(repr(v) + "D" for v in vals) + ")")
    return F.lit(vals)


def const_double_matrix(rows) -> Column:
    """array<array<double>> literal in one py4j call — see
    const_double_array."""
    import math

    mat = [[float(v) for v in r] for r in rows]
    if mat and all(r and all(math.isfinite(v) for v in r) for r in mat):
        return F.expr(
            "array("
            + ",".join(
                "array(" + ",".join(repr(v) + "D" for v in r) + ")" for r in mat
            )
            + ")"
        )
    return F.lit(mat)
