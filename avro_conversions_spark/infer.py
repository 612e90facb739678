"""Schema inference: observed data → suggested read schema + constraints.

A numeric column's observed minimum and maximum form a
``schema.model.NumberRange``, and ``schema.model.elect`` picks its type:
the same range and election that JSON Schema and XSD use
(opwvhk/avro/util/DecimalRange.java; json/SchemaAnalyzer.java:177-207).

The *observation* side is one distributed aggregation pass; the election
runs on the driver over the tiny aggregate row.
"""

from __future__ import annotations

import math
from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from avro_conversions_spark.schema.model import (
    EnumType,
    LogicalType,
    NumberRange,
    PrimitiveType,
    ReadType,
    elect,
)


def observe_column(df: DataFrame, column: str, enum_max: int = 32) -> dict:
    """One aggregation pass over a column: nulls, range, distincts.
    Returns the facts the election needs (driver-side dict)."""
    c = F.col(column)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(c.isNull(), 1)).alias("nulls"),
        F.min(c).alias("mn"),
        F.max(c).alias("mx"),
        F.approx_count_distinct(c).alias("ndv"),
    ).collect()[0]
    facts = {
        "n": row["n"],
        "nulls": row["nulls"],
        "min": row["mn"],
        "max": row["mx"],
        "ndv": row["ndv"],
        "nullable": row["nulls"] > 0,
    }
    if facts["ndv"] <= enum_max and isinstance(row["mn"], str):
        facts["symbols"] = tuple(
            r[0] for r in df.select(c).where(c.isNotNull()).distinct().orderBy(c).collect()
        )
    return facts


def _bound(v) -> Decimal | None:
    """An observed minimum or maximum; a float drops the trailing zeros of
    its text (``123456.0`` has precision 6). None for no value, NaN or
    ±Infinity."""
    if v is None or isinstance(v, float) and not math.isfinite(v):
        return None
    return Decimal(repr(v)).normalize() if isinstance(v, float) else Decimal(v)


def suggest_read_type(df: DataFrame, column: str) -> tuple[ReadType, bool]:
    """Observed column → (suggested ReadType, nullable) — the analogue of
    JSON-Schema→Avro inference for already-typed tables."""
    from pyspark.sql import types as T

    dtype = df.schema[column].dataType
    facts = observe_column(df, column)
    nullable = facts["nullable"]
    if isinstance(dtype, T.NumericType):
        lo, hi = (_bound(facts[k]) for k in ("min", "max"))
        # without both finite ends the observed range is unknown (an empty
        # column, or NaN/±Infinity hiding the finite extremes): unbounded
        bounded = lo is not None and hi is not None
        rng = NumberRange(lo, True, hi, True) if bounded else NumberRange()
        return elect(rng, isinstance(dtype, T.IntegralType)), nullable
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        kind = "local-timestamp-micros" if isinstance(dtype, T.TimestampNTZType) else "timestamp-micros"
        return LogicalType(kind), nullable
    if isinstance(dtype, T.DateType):
        return LogicalType("date"), nullable
    if isinstance(dtype, T.StringType):
        if "symbols" in facts:
            return EnumType(column, facts["symbols"]), nullable
        return PrimitiveType("string"), nullable
    return PrimitiveType("string"), nullable
