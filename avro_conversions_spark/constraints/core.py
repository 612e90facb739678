"""Row-level constraint DSL.

Each constraint is the direct analogue of a reference ResolveRule
(opwvhk/avro/io/AsAvroParserBase.java:515-550): a plan-time compatibility
check plus a runtime Column predicate (true → violation). All predicates
are pure ``pyspark.sql.Column`` expressions — they fuse into one
whole-stage codegen pass over the table, so N constraints cost one scan,
not N.

Violations are *rows with reason codes*; the engine never throws per row
(the reference throws IOException per document,
opwvhk/avro/json/JsonAsAvroParser.java:304-315 — that does not survive
10^12 rows). The violation-row format is built here once and shared by
the batch engine, the streaming pass and the sequence constraint:
``(constraint, column, reason, observed)`` structs, non-null ones kept,
exploded one row each. ``observed`` follows a frozen formatting spec
(``canonical_str``: timestamps ISO-8601 with 6-digit micros + offset,
everything else a plain string cast) so golden fixtures byte-match
(BASELINE.json:15).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from avro_conversions_spark.schema.model import ReadType
from avro_conversions_spark.schema.resolution import (
    ResolvingFailure,
    SchemaResolver,
    WriteType,
    from_spark_schema,
)


@dataclass
class RowConstraint:
    """One per-row invariant over one column."""

    name: str
    column: str
    reason: str
    predicate: Callable[[Column], Column]  # true → violation
    plan_check: Callable[[T.StructType], None] | None = None
    repair: Callable[[Column], Column] | None = None  # optional repaired value

    def check_plan(self, schema: T.StructType) -> None:
        if self.column not in schema.fieldNames():
            raise ResolvingFailure(
                f"constraint {self.name}: column {self.column!r} absent from "
                f"observed schema {schema.fieldNames()}"
            )
        if self.plan_check is not None:
            self.plan_check(schema)

    def violation(self) -> Column:
        return self.predicate(F.col(self.column))


TS_CANON_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def canonical_str(col: Column, dtype: T.DataType) -> Column:
    """Frozen formatting spec for the ``observed`` field (byte-match
    requirement)."""
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return F.date_format(col, TS_CANON_FMT)
    return col.cast("string")


def violation_struct(constraint: str, column: str, reason: str, observed: Column) -> Column:
    """One violation in the frozen row format."""
    return F.struct(
        F.lit(constraint).alias("constraint"),
        F.lit(column).alias("column"),
        F.lit(reason).alias("reason"),
        observed.alias("observed"),
    )


def explode_violations(
    df: DataFrame, keep: Sequence[str], checks: Sequence[tuple[Column, Column]]
) -> DataFrame:
    """``keep`` columns + one row per ``(predicate, violation_struct)``
    check whose predicate holds: one projection, no shuffle."""
    arr = F.filter(F.array(*[F.when(p, v) for p, v in checks]), lambda x: x.isNotNull())
    return (
        df.select(*keep, arr.alias("_v"))
        .where(F.size("_v") > 0)
        .select(*keep, F.explode("_v").alias("_e"))
        .select(*keep, "_e.*")
    )


def row_violations(
    df: DataFrame, constraints: Sequence[RowConstraint], keep: Sequence[str]
) -> DataFrame:
    """The row pass: every row constraint evaluated in one scan of ``df``."""
    schema = df.schema
    checks = [
        (
            c.violation(),
            violation_struct(
                c.name,
                c.column,
                c.reason,
                canonical_str(F.col(c.column), schema[c.column].dataType),
            ),
        )
        for c in constraints
    ]
    return explode_violations(df, keep, checks)


# --------------------------------------------------------------------------
# factory functions (the user-facing DSL)
# --------------------------------------------------------------------------


def not_null(column: str, name: str | None = None) -> RowConstraint:
    """V3 required-field presence (io/AsAvroParserBase.java:277-285)."""
    return RowConstraint(
        name=name or f"not_null({column})",
        column=column,
        reason="NULL_REQUIRED_FIELD",
        predicate=lambda c: c.isNull(),
    )


def enum_in(
    column: str,
    symbols: Sequence[str],
    default: str | None = None,
    name: str | None = None,
) -> RowConstraint:
    """V6 enum membership; with ``default`` the constraint *repairs*
    (substitutes) instead of flagging (io/AsAvroParserBase.java:437-445)."""
    syms = list(symbols)
    if default is not None and default not in syms:
        raise ResolvingFailure(f"enum default {default!r} not among symbols {syms}")
    return RowConstraint(
        name=name or f"enum({column})",
        column=column,
        reason="INVALID_ENUM_SYMBOL",
        predicate=(lambda c: F.lit(False))
        if default is not None
        else (lambda c: c.isNotNull() & ~c.isin(syms)),
        repair=None
        if default is None
        else (lambda c: F.when(c.isin(syms) | c.isNull(), c).otherwise(F.lit(default))),
    )


def range_check(
    column: str,
    lo: float | int | None = None,
    hi: float | int | None = None,
    name: str | None = None,
) -> RowConstraint:
    """V5 bounds (e.g. int32 bit-size: lo=-2^31, hi=2^31-1,
    util/DecimalRange.java:177-185)."""

    def pred(c: Column) -> Column:
        conds = []
        if lo is not None:
            conds.append(c < lo)
        if hi is not None:
            conds.append(c > hi)
        out = conds[0]
        for x in conds[1:]:
            out = out | x
        return c.isNotNull() & out

    return RowConstraint(
        name=name or f"range({column})",
        column=column,
        reason="VALUE_OUT_OF_RANGE",
        predicate=pred,
    )


def regex_match(column: str, pattern: str, name: str | None = None) -> RowConstraint:
    return RowConstraint(
        name=name or f"regex({column})",
        column=column,
        reason="PATTERN_MISMATCH",
        predicate=lambda c: c.isNotNull() & ~c.rlike(pattern),
    )


def str_len_between(
    column: str, lo: int = 0, hi: int | None = None, name: str | None = None
) -> RowConstraint:
    def pred(c: Column) -> Column:
        bad = F.length(c) < lo
        if hi is not None:
            bad = bad | (F.length(c) > hi)
        return c.isNotNull() & bad

    return RowConstraint(
        name=name or f"strlen({column})",
        column=column,
        reason="LENGTH_OUT_OF_RANGE",
        predicate=pred,
    )


def decimal_fits(
    column: str, precision: int, scale: int, name: str | None = None
) -> RowConstraint:
    """V4 exact decimal(p,s) — RoundingMode.UNNECESSARY semantics
    (io/AsAvroParserBase.java:457-462): excess fraction digits are a
    violation, never rounded. Accepts either the plain textual form (regex,
    p==s-safe) or a scientific/trailing-zero rendering that round-trips
    exactly through decimal(38,s) — doubles render as '1.0E-4' and must not
    be falsely flagged."""
    from avro_conversions_spark.schema.resolution import (
        decimal_regex,
        decimal_roundtrip_ok,
    )

    rx = decimal_regex(precision, scale)
    return RowConstraint(
        name=name or f"decimal({column},{precision},{scale})",
        column=column,
        reason="DECIMAL_OUT_OF_RANGE",
        predicate=lambda c: c.isNotNull()
        & ~(
            c.cast("string").rlike(rx)
            | decimal_roundtrip_ok(c, precision, scale, from_string=True)
        ),
    )


def fixed_length(column: str, size: int, name: str | None = None) -> RowConstraint:
    """V7 fixed binary/string size (io/AsAvroParserBase.java:478-486)."""
    return RowConstraint(
        name=name or f"fixed({column},{size})",
        column=column,
        reason="WRONG_BINARY_SIZE",
        predicate=lambda c: c.isNotNull() & (F.length(c) != size),
    )


def parseable(
    column: str,
    read_type: ReadType,
    write_type: WriteType | None = None,
    name: str | None = None,
    resolver: SchemaResolver | None = None,
) -> RowConstraint:
    """F3-F7: "does this value parse as read type T" as a constraint —
    built by running the schema resolver on a single column."""
    resolver = resolver or SchemaResolver(strict_nullability=False, trust_reader=True)
    wt = write_type or WriteType(T.StringType())
    conv = resolver.resolve(wt, read_type)
    pred = conv.violation or (lambda c: F.lit(False))
    return RowConstraint(
        name=name or f"parseable({column},{read_type.describe()})",
        column=column,
        reason=conv.reason or "UNPARSEABLE",
        predicate=pred,
        repair=conv.convert,
    )


__all__ = [
    "RowConstraint",
    "not_null",
    "enum_in",
    "range_check",
    "regex_match",
    "str_len_between",
    "decimal_fits",
    "fixed_length",
    "parseable",
    "from_spark_schema",
]
