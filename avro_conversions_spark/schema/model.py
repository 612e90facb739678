"""Avro-style read-schema model (driver-side, plan-time only).

Semantics follow the reference's data model (SURVEY.md §1.1):

- records with named fields, docs, aliases and defaults
  (reference: opwvhk/avro/io/RecordResolver.java:71-117);
- nullability is a union-with-null unwrapped into a per-field flag
  (reference: opwvhk/avro/util/AvroSchemaUtils.java:179-185);
- enums carry an optional default symbol used for substitution
  (reference: opwvhk/avro/io/AsAvroParserBase.java:433-445);
- decimals carry (precision, scale); fixed carries a byte size;
- logical types: date, time-millis/micros, timestamp-millis/micros,
  local-timestamp-millis/micros (doc/index.md:66-91);
- maps are rejected for the data path, as in the reference
  (opwvhk/avro/io/AsAvroParserBase.java:311).

The model is deliberately tiny and immutable: it exists to be *resolved*
against an observed Spark schema on the driver, never shipped to executors.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from decimal import Decimal
from typing import Any

from pyspark.sql import types as T

_PRIMITIVES = {"boolean", "int", "long", "float", "double", "string", "bytes", "null"}
_LOGICALS = {
    "date",
    "time-millis",
    "time-micros",
    "timestamp-millis",
    "timestamp-micros",
    "local-timestamp-millis",
    "local-timestamp-micros",
}


class ReadType:
    """Base class for all read-schema types."""

    def describe(self) -> str:
        return type(self).__name__


@dataclass(frozen=True)
class PrimitiveType(ReadType):
    kind: str  # boolean | int | long | float | double | string | bytes

    def __post_init__(self) -> None:
        if self.kind not in _PRIMITIVES - {"null"}:
            raise ValueError(f"unknown primitive {self.kind!r}")

    def describe(self) -> str:
        return self.kind


@dataclass(frozen=True)
class LogicalType(ReadType):
    kind: str  # member of _LOGICALS

    def __post_init__(self) -> None:
        if self.kind not in _LOGICALS:
            raise ValueError(f"unknown logical type {self.kind!r}")

    def describe(self) -> str:
        return self.kind


@dataclass(frozen=True)
class DecimalType(ReadType):
    precision: int
    scale: int

    def describe(self) -> str:
        return f"decimal({self.precision},{self.scale})"


@dataclass(frozen=True)
class EnumType(ReadType):
    name: str
    symbols: tuple[str, ...]
    default: str | None = None

    def describe(self) -> str:
        return f"enum({self.name})"


@dataclass(frozen=True)
class FixedType(ReadType):
    name: str
    size: int

    def describe(self) -> str:
        return f"fixed({self.size})"


@dataclass(frozen=True)
class ArrayType(ReadType):
    items: ReadType
    items_nullable: bool = False

    def describe(self) -> str:
        return f"array<{self.items.describe()}>"


@dataclass(frozen=True)
class Field:
    name: str
    type: ReadType
    nullable: bool = False
    default: Any = ...  # Ellipsis = no default (distinct from None = null default)
    aliases: tuple[str, ...] = ()
    doc: str | None = None

    @property
    def has_default(self) -> bool:
        return self.default is not ...

    def match_names(self) -> tuple[str, ...]:
        return (self.name, *self.aliases)


@dataclass(frozen=True)
class RecordType(ReadType):
    name: str
    fields: tuple[Field, ...]
    doc: str | None = None
    aliases: tuple[str, ...] = ()

    def field_map(self) -> dict[str, Field]:
        out: dict[str, Field] = {}
        for f in self.fields:
            for n in f.match_names():
                out.setdefault(n, f)
        return out

    def describe(self) -> str:
        return f"record({self.name})"


# ---------------------------------------------------------------------------
# Number ranges and the one range -> type election
# ---------------------------------------------------------------------------


def _units(d: Decimal, scale: int, up: bool) -> int:
    """``d`` in whole units of 10**-scale, rounded up or down; exact at any
    number of digits."""
    sign, digits, exp = d.as_tuple()
    n = int("".join(map(str, digits)) or "0") * (-1 if sign else 1)
    if exp + scale >= 0:
        return n * 10 ** (exp + scale)
    q, r = divmod(n, 10 ** -(exp + scale))
    return q + 1 if up and r else q


@dataclass(frozen=True)
class NumberRange:
    """Decimal range with optional (open) bounds and inclusivity flags —
    util/DecimalRange.java. JSON Schema bounds, XSD facets and observed
    column minima/maxima all become one of these."""

    lo: Decimal | None = None
    lo_incl: bool = False
    hi: Decimal | None = None
    hi_incl: bool = False

    @staticmethod
    def _cmp(a: Decimal | None, b: Decimal | None, null_low: bool) -> int:
        if a is None and b is None:
            return 0
        if a is None:
            return -1 if null_low else 1
        if b is None:
            return 1 if null_low else -1
        return -1 if a < b else (0 if a == b else 1)

    @staticmethod
    def _scale(d: Decimal) -> int:
        return max(0, -d.as_tuple().exponent)

    def _pick(self, a, a_incl, b, b_incl, want_min: bool, null_low: bool, incl_or: bool):
        cmp = self._cmp(a, b, null_low)
        if cmp == 0:
            if a is None:
                return None, False
            chosen = a if self._scale(a) > self._scale(b) else b
            return chosen, (a_incl or b_incl) if incl_or else (a_incl and b_incl)
        take_a = (cmp < 0) == want_min
        return (a, a_incl) if take_a else (b, b_incl)

    def extend_with(self, other: "NumberRange") -> "NumberRange":
        """Union hull (DecimalRange.java:60-101)."""
        lo, loi = self._pick(self.lo, self.lo_incl, other.lo, other.lo_incl,
                             want_min=True, null_low=True, incl_or=True)
        hi, hii = self._pick(self.hi, self.hi_incl, other.hi, other.hi_incl,
                             want_min=False, null_low=False, incl_or=True)
        return NumberRange(lo, loi, hi, hii)

    def restrict_to(self, other: "NumberRange") -> "NumberRange":
        """Intersection (DecimalRange.java:109-150); ValueError when no
        number lies in both."""
        lo, loi = self._pick(self.lo, self.lo_incl, other.lo, other.lo_incl,
                             want_min=False, null_low=True, incl_or=False)
        hi, hii = self._pick(self.hi, self.hi_incl, other.hi, other.hi_incl,
                             want_min=True, null_low=False, incl_or=False)
        if lo is not None and hi is not None and (lo > hi or lo == hi and not (loi and hii)):
            raise ValueError(f"empty range: {self} and {other} do not overlap")
        return NumberRange(lo, loi, hi, hii)

    def is_integer_range(self, allow_zero_fraction: bool) -> bool:
        for b in (self.lo, self.hi):
            if b is None:
                continue
            if allow_zero_fraction:
                if b != int(b):
                    return False
            elif self._scale(b) > 0:
                return False
        return True

    def _ends(self, scale: int) -> tuple[int, ...]:
        """The lowest and highest values in the range, in units of
        10**-scale; an exclusive bound moves one unit inward. An open end
        is left out."""
        out = []
        if self.lo is not None:
            out.append(_units(self.lo, scale, up=self.lo_incl) + (0 if self.lo_incl else 1))
        if self.hi is not None:
            out.append(_units(self.hi, scale, up=not self.hi_incl) - (0 if self.hi_incl else 1))
        return tuple(out)

    def integer_bit_size(self) -> int:
        """Two's-complement bits (BigInteger.bitLength() plus the sign) of
        the integer ends, or 0 if unbounded (DecimalRange.java:177-185)."""
        return max(((n if n >= 0 else ~n).bit_length() + 1 for n in self._ends(0)), default=0)

    def required_scale(self) -> int:
        return max((self._scale(b) for b in (self.lo, self.hi) if b is not None), default=0)

    def precision_at(self, scale: int) -> int:
        """Digits that hold every value of the range at ``scale``, or 0 if
        unbounded (DecimalRange.java:192-203)."""
        return max((len(str(abs(n))) for n in self._ends(scale)), default=0)

    def required_precision(self) -> int:
        return self.precision_at(self.required_scale())

    def __str__(self) -> str:
        return (
            ("[" if self.lo_incl else "(") + ("-inf" if self.lo is None else str(self.lo))
            + ", " + ("inf" if self.hi is None else str(self.hi))
            + ("]" if self.hi_incl else ")")
        )


def elect(rng: NumberRange, integral: bool) -> ReadType:
    """The type that holds every value of ``rng`` (json/SchemaAnalyzer.java:
    177-207). An integral range takes int up to 32 bits, long up to 64, else
    decimal(p,0); any other range takes float below precision 7, double
    below 16, else decimal(p,s). Without bounds: long, or double."""
    if integral:
        bits = rng.integer_bit_size()
        if 0 < bits <= 32:
            return PrimitiveType("int")
        if bits <= 64:
            return PrimitiveType("long")
        return DecimalType(rng.precision_at(0), 0)
    p = rng.required_precision()
    if 0 < p < 7:
        return PrimitiveType("float")
    if p < 16:
        return PrimitiveType("double")
    return DecimalType(p, rng.required_scale())


# ---------------------------------------------------------------------------
# Avro .avsc loading (so reference test fixtures translate 1:1)
# ---------------------------------------------------------------------------


def from_avsc(schema: str | dict | list) -> tuple[ReadType, bool]:
    """Parse an Avro schema (JSON string or decoded object) into a
    (ReadType, nullable) pair. Unions other than [null, T] are rejected,
    matching the reference (opwvhk/avro/io/AsAvroParserBase.java:336).

    Named-type references (including recursive ones, e.g. a record field
    typed by its enclosing record's name) resolve through a names registry,
    mirroring the reference's memoized resolver compilation
    (io/AsAvroParserBase.java:355-398; io/DelegatingResolver.java:6-52):
    records register BEFORE their fields parse, so recursion terminates.
    """
    if isinstance(schema, str) and schema.strip().startswith(("{", "[")):
        schema = json.loads(schema)
    return _parse(schema, {})


def _register(names: dict[str, ReadType], s: dict, rt: ReadType) -> None:
    ns = s.get("namespace")
    for n in (s["name"], *s.get("aliases", ())):
        names[n] = rt
        if ns:
            names[f"{ns}.{n}"] = rt


def _parse(s: Any, names: dict[str, ReadType]) -> tuple[ReadType, bool]:
    if isinstance(s, str):
        if s in _PRIMITIVES:
            if s == "null":
                raise ValueError("bare null type is not a value type")
            return PrimitiveType(s), False
        if s in names:
            return names[s], False
        raise ValueError(f"undefined named type reference {s!r}")
    if isinstance(s, list):  # union
        non_null = [b for b in s if b != "null"]
        if len(non_null) != 1 or len(s) > 2:
            raise ValueError(f"only [null, T] unions supported, got {s!r}")
        inner, _ = _parse(non_null[0], names)
        return inner, "null" in s
    if not isinstance(s, dict):
        raise ValueError(f"bad schema node {s!r}")

    logical = s.get("logicalType")
    t = s["type"]
    if logical:
        if logical == "decimal":
            return DecimalType(int(s["precision"]), int(s.get("scale", 0))), False
        if logical in _LOGICALS:
            return LogicalType(logical), False
        # unknown logical types fall back to the underlying type (Avro spec)
    if t == "enum":
        et = EnumType(s["name"], tuple(s["symbols"]), s.get("default"))
        _register(names, s, et)
        return et, False
    if t == "fixed":
        ft = FixedType(s["name"], int(s["size"]))
        _register(names, s, ft)
        return ft, False
    if t == "array":
        items, items_nullable = _parse(s["items"], names)
        return ArrayType(items, items_nullable), False
    if t == "map":
        raise ValueError("map types are unsupported (reference parity: doc/index.md:71)")
    if t == "record":
        # register the (empty) record before parsing fields so recursive
        # references resolve to the same instance
        rec = RecordType(s["name"], (), s.get("doc"), tuple(s.get("aliases", ())))
        _register(names, s, rec)
        fields = []
        for fs in s["fields"]:
            ftype, fnullable = _parse(fs["type"], names)
            fields.append(
                Field(
                    name=fs["name"],
                    type=ftype,
                    nullable=fnullable,
                    default=fs.get("default", ...),
                    aliases=tuple(fs.get("aliases", ())),
                    doc=fs.get("doc"),
                )
            )
        object.__setattr__(rec, "fields", tuple(fields))
        return rec, False
    if isinstance(t, (str, list, dict)) and t not in ("record", "enum", "fixed", "array", "map"):
        return _parse(t, names)
    raise ValueError(f"unsupported schema node {s!r}")


# ---------------------------------------------------------------------------
# Spark-type projection of a read schema
# ---------------------------------------------------------------------------


def to_spark_type(rt: ReadType, _seen: frozenset[int] = frozenset()) -> T.DataType:
    """The Spark type a resolved column will have (SURVEY.md §1.2 mapping).

    time-of-day types map to LongType micros-of-day (Spark has no TIME type);
    local timestamps map to TimestampNTZType; a decimal wider than 38 digits
    maps to decimal(38, s).

    A recursive record (named-type self-reference, legal in .avsc) has no
    finite flat Spark type: raise a clear error instead of RecursionError,
    mirroring the explicit recursion checks in both to_write_type paths.
    """
    if isinstance(rt, PrimitiveType):
        return {
            "boolean": T.BooleanType(),
            "int": T.IntegerType(),
            "long": T.LongType(),
            "float": T.FloatType(),
            "double": T.DoubleType(),
            "string": T.StringType(),
            "bytes": T.BinaryType(),
        }[rt.kind]
    if isinstance(rt, LogicalType):
        if rt.kind == "date":
            return T.DateType()
        if rt.kind.startswith("time-"):
            return T.LongType()  # micros (or millis) of day
        if rt.kind.startswith("local-timestamp"):
            return T.TimestampNTZType()
        return T.TimestampType()
    if isinstance(rt, DecimalType):
        # Spark holds at most 38 digits; a wider Avro decimal keeps its
        # scale, and values beyond 38 digits fail the read type's checks
        return T.DecimalType(min(rt.precision, 38), rt.scale)
    if isinstance(rt, EnumType):
        return T.StringType()
    if isinstance(rt, FixedType):
        return T.BinaryType()
    if isinstance(rt, ArrayType):
        return T.ArrayType(to_spark_type(rt.items, _seen), rt.items_nullable)
    if isinstance(rt, RecordType):
        if id(rt) in _seen:
            raise ValueError(
                f"recursive record {rt.name!r} has no flat Spark type "
                "(self-referencing named types cannot be projected to a struct)"
            )
        inner = _seen | {id(rt)}
        return T.StructType(
            [
                T.StructField(
                    f.name,
                    to_spark_type(f.type, inner),
                    f.nullable,
                    # field docs ride along as Spark column comments so
                    # SchemaManipulator.documentation() keeps them
                    {"comment": f.doc} if f.doc else {},
                )
                for f in rt.fields
            ]
        )
    raise ValueError(f"unmapped read type {rt!r}")
