"""Schema-resolution failure corpus (FIXTURES.md §4) — one case per
reference failure fixture from
src/test/java/opwvhk/avro/json/JsonAsAvroParserTest.java:74-87 and
xml/XmlResolvingTest.java:296-441, re-expressed as plan-time assertions.
"""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import types as T

from avro_conversions_spark.schema import (
    NumberRange,
    ResolvingFailure,
    SchemaResolver,
    from_avsc,
    from_spark_schema,
)
from avro_conversions_spark.schema.resolution import WriteType


def rec(fields_json: str):
    read, _ = from_avsc('{"type":"record","name":"R","fields":[' + fields_json + "]}")
    return read


def resolve(write_schema: T.StructType, read, ann=None, **kw):
    wt = from_spark_schema(write_schema, ann)
    return SchemaResolver(**kw).resolve_record(wt, read)


S = T.StructType


# --- failure corpus -----------------------------------------------------


def test_required_field_missing_fails():
    """RequiredShortInt analogue (JsonAsAvroParserTest.java:79)."""
    read = rec('{"name":"missing","type":"int"}')
    with pytest.raises(ResolvingFailure, match="no writer field"):
        resolve(S([T.StructField("other", T.IntegerType())]), read)


def test_not_an_int_fails():
    """NotAnInt: non-numeric writer vs int reader (JsonAsAvroParserTest.java:80)."""
    read = rec('{"name":"x","type":"int"}')
    with pytest.raises(ResolvingFailure):
        resolve(S([T.StructField("x", T.BooleanType())]), read, strict_nullability=False)


def test_too_short_decimal_fails():
    """TooShortDecimal: reader scale below writer scale (:81)."""
    read = rec(
        '{"name":"x","type":{"type":"bytes","logicalType":"decimal","precision":6,"scale":1}}'
    )
    with pytest.raises(ResolvingFailure, match="decimal"):
        resolve(S([T.StructField("x", T.DecimalType(6, 2))]), read, strict_nullability=False)


def test_too_imprecise_decimal_fails():
    """TooImpreciseDecimal: reader integer digits below writer's (:82)."""
    read = rec(
        '{"name":"x","type":{"type":"bytes","logicalType":"decimal","precision":4,"scale":2}}'
    )
    with pytest.raises(ResolvingFailure, match="decimal"):
        resolve(S([T.StructField("x", T.DecimalType(8, 2))]), read, strict_nullability=False)


def test_different_choice_fails():
    """DifferentChoice: writer enum symbols ⊄ reader, no default (:83)."""
    read = rec(
        '{"name":"x","type":{"type":"enum","name":"E","symbols":["yes","no"]}}'
    )
    with pytest.raises(ResolvingFailure, match="symbols"):
        resolve(
            S([T.StructField("x", T.StringType())]),
            read,
            ann={"x": {"symbols": ("yes", "no", "maybe")}},
            strict_nullability=False,
        )


def test_different_choice_with_default_resolves():
    """DifferentChoiceWithDefault: extra writer symbols repaired via default
    (JsonAsAvroParserTest.java:53-72)."""
    read = rec(
        '{"name":"x","type":{"type":"enum","name":"E","symbols":["yes","no"],"default":"no"}}'
    )
    plans = resolve(
        S([T.StructField("x", T.StringType())]),
        read,
        ann={"x": {"symbols": ("yes", "no", "maybe")}},
        strict_nullability=False,
    )
    assert plans[0].converter.violation is None  # repair, not flag


def test_choice_as_int_fails():
    """ChoiceAsInt: enum writer vs int reader (:84)."""
    read = rec('{"name":"x","type":"int"}')
    with pytest.raises(ResolvingFailure):
        resolve(
            S([T.StructField("x", T.StringType())]),
            read,
            ann={"x": {"symbols": ("yes", "no")}},
            strict_nullability=False,
        )


def test_too_short_integer_fails():
    """TooShortInteger: 64-bit writer range vs int reader (:85)."""
    read = rec('{"name":"x","type":"int"}')
    with pytest.raises(ResolvingFailure, match="bits"):
        resolve(
            S([T.StructField("x", T.LongType())]),
            read,
            ann={"x": {"range": NumberRange(Decimal(-9_000_000_000), True, Decimal(9_000_000_000), True)}},
            strict_nullability=False,
        )


def test_non_nullable_int_fails():
    """NonNullableInt: writer nullable, reader not, no default (:86)."""
    read = rec('{"name":"x","type":"int"}')
    with pytest.raises(ResolvingFailure, match="nullable"):
        resolve(S([T.StructField("x", T.IntegerType(), True)]), read)


def test_map_unsupported():
    """doc/index.md:71: map writer types rejected."""
    read = rec('{"name":"x","type":"string"}')
    with pytest.raises(ResolvingFailure, match="map"):
        resolve(
            S([T.StructField("x", T.MapType(T.StringType(), T.StringType()))]),
            read,
            strict_nullability=False,
        )


def test_nested_arrays_rejected():
    """xml/XmlAsAvroParser.java:255-261."""
    read = rec(
        '{"name":"x","type":{"type":"array","items":{"type":"array","items":"int"}}}'
    )
    with pytest.raises(ResolvingFailure, match="[Nn]ested"):
        resolve(
            S([T.StructField("x", T.ArrayType(T.ArrayType(T.IntegerType())))]),
            read,
            strict_nullability=False,
        )


def test_string_to_bytes_requires_encoding():
    read = rec('{"name":"x","type":"bytes"}')
    with pytest.raises(ResolvingFailure, match="contentEncoding"):
        resolve(S([T.StructField("x", T.StringType())]), read, strict_nullability=False)


# --- success semantics ---------------------------------------------------


def test_widening_and_lossy_conversions():
    """doc/index.md:36-39: int→long→float→double, anything→string."""
    read = rec(
        '{"name":"a","type":"long"},{"name":"b","type":"double"},'
        '{"name":"c","type":"string"}'
    )
    plans = resolve(
        S(
            [
                T.StructField("a", T.IntegerType()),
                T.StructField("b", T.LongType()),
                T.StructField("c", T.DoubleType()),
            ]
        ),
        read,
        strict_nullability=False,
    )
    assert [p.converter.spark_type.simpleString() for p in plans] == [
        "bigint",
        "double",
        "string",
    ]


def test_alias_matching_and_default_fill():
    """removed/renamed/added field semantics (doc/index.md:34-47)."""
    read = rec(
        '{"name":"new_name","type":"int","aliases":["old_name"]},'
        '{"name":"added","type":"string","default":"d"}'
    )
    plans = resolve(
        S([T.StructField("old_name", T.IntegerType()), T.StructField("ignored", T.StringType())]),
        read,
        strict_nullability=False,
    )
    by_name = {p.name: p for p in plans}
    assert by_name["new_name"].source == "old_name"  # alias match
    assert by_name["added"].source is None and by_name["added"].default == "d"
    assert "ignored" not in [p.source for p in plans]  # unknown writer field skipped


def test_single_value_as_array():
    """xml cardinality: single value readable as array (XmlAsAvroParser.java:226-253)."""
    read = rec('{"name":"x","type":{"type":"array","items":"int"}}')
    plans = resolve(S([T.StructField("x", T.IntegerType())]), read, strict_nullability=False)
    assert plans[0].converter.spark_type.simpleString() == "array<int>"


def test_wrapped_array_unwrap():
    """XmlAsAvroParser.java:236-243: writer struct w/ single array field."""
    read = rec('{"name":"x","type":{"type":"array","items":"long"}}')
    inner = T.StructType([T.StructField("items", T.ArrayType(T.IntegerType()))])
    plans = resolve(S([T.StructField("x", inner)]), read, strict_nullability=False)
    assert plans[0].converter.spark_type.simpleString() == "array<bigint>"


def test_trust_reader_runtime_guard():
    read = rec('{"name":"x","type":["null","int"]}')
    plans = resolve(
        S([T.StructField("x", T.LongType())]), read, strict_nullability=False, trust_reader=True
    )
    assert plans[0].converter.violation is not None


def test_allow_missing_whitelist():
    """fieldsAllowedMissing (io/AsAvroParserBase.java:170, 203-229;
    json/JsonAsAvroParser.java:118): a whitelisted required, defaultless
    read field absent from the writer resolves to a null column instead of
    failing the plan — the reference's documented 'may yield invalid
    records' escape hatch."""
    read = rec('{"name":"a","type":"int"}, {"name":"b","type":"string"}')
    write = S([T.StructField("a", T.IntegerType())])
    # without the whitelist: plan-time failure
    with pytest.raises(ResolvingFailure, match="no writer field"):
        resolve(write, read, strict_nullability=False)
    # with it: b resolves to a null string column
    plans = SchemaResolver(strict_nullability=False).resolve_record(
        from_spark_schema(write), read, allow_missing={"b"}
    )
    by_name = {p.name: p for p in plans}
    assert by_name["b"].source is None and by_name["b"].default is None
    # constructor-level whitelist reaches NESTED records too
    nested = rec(
        '{"name":"inner","type":{"type":"record","name":"Inner","fields":['
        '{"name":"x","type":"int"},{"name":"missing_inner","type":"string"}]}}'
    )
    wnested = S([T.StructField("inner", T.StructType([T.StructField("x", T.IntegerType())]))])
    with pytest.raises(ResolvingFailure):
        resolve(wnested, nested, strict_nullability=False)
    plans = SchemaResolver(
        strict_nullability=False, allow_missing={"missing_inner"}
    ).resolve_record(from_spark_schema(wnested), nested)
    assert plans[0].name == "inner"
