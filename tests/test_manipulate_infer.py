"""Schema manipulation (SURVEY.md §2.5) and inference (§2.6) semantics."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from avro_conversions_spark.infer import suggest_read_type
from avro_conversions_spark.manipulate import (
    SchemaManipulator,
    convert_name,
    document_schema_markdown,
    validate_unique_names,
)
from avro_conversions_spark.schema import infer_read_schema
from avro_conversions_spark.schema.model import (
    DecimalType,
    EnumType,
    NumberRange,
    PrimitiveType,
    elect,
)
from avro_conversions_spark.schema.xsd import XsdAnalyzer, to_read_type


def test_naming_conventions():
    """util/NamingConvention.java:75-198 casing matrix."""
    assert convert_name("OneTwoThree", "snake_case") == "one_two_three"
    assert convert_name("one_two_three", "PascalCase") == "OneTwoThree"
    assert convert_name("one-two-three", "camelCase") == "oneTwoThree"
    assert convert_name("ONE_TWO", "kebab-case") == "one-two"
    assert convert_name("çaFé", "snake_case") == "ca_fe"  # accent stripping (NFD)
    assert convert_name("HTTPServer", "snake_case") == "http_server"


def test_rename_and_convention(spark):
    df = spark.createDataFrame([(1, (2, "x"))], "oldName int, nested struct<innerVal:int, s:string>")
    out = (
        SchemaManipulator()
        .rename_field("oldName", "renamed")
        .use_naming_convention("snake_case")
        .apply(df)
    )
    assert out.columns == ["renamed", "nested"]
    assert out.schema["nested"].dataType.fieldNames() == ["inner_val", "s"]
    assert out.collect()[0].renamed == 1


def test_unwrap_array(spark):
    """M5 (SchemaManipulator.java:405-459): struct{items: array} → array."""
    df = spark.createDataFrame([(([1, 2, 3],),)], "wrapper struct<items: array<int>>")
    out = SchemaManipulator().unwrap_array("wrapper").apply(df)
    assert isinstance(out.schema["wrapper"].dataType, T.ArrayType)
    assert out.collect()[0].wrapper == [1, 2, 3]


def test_sort_fields(spark):
    df = spark.createDataFrame([(1, 2, 3)], "charlie int, alpha int, bravo int")
    out = SchemaManipulator().sort_fields().apply(df)
    assert out.columns == ["alpha", "bravo", "charlie"]


def test_markdown_doc():
    schema = T.StructType(
        [
            T.StructField("a", T.IntegerType(), False),
            T.StructField("b", T.ArrayType(T.StringType()), True),
            T.StructField("c", T.StructType([T.StructField("d", T.LongType(), True)]), False),
        ]
    )
    md = document_schema_markdown(schema, "t")
    # reference marker semantics (AvroSchemaUtils.java:72-81): '?' goes on
    # the PATH of the nullable union, before the '[]' array marker
    assert "| a | int |" in md and "| b?[] | string |" in md and "| c.d? | bigint |" in md
    assert "| Field(path) | Type | Documentation |" in md


def test_markdown_doc_readtype_reference_fidelity():
    """M7 full fidelity: logical-type names, field docs + 'Type:' record
    docs, map marker, recursion-safe named-type reuse."""
    from avro_conversions_spark.manipulate import truncate
    from avro_conversions_spark.schema import from_avsc

    rt, _ = from_avsc(
        """
    {"type":"record","name":"Conv","doc":"A conversation","fields":[
      {"name":"when","type":{"type":"int","logicalType":"date"},"doc":"start <day>"},
      {"name":"amount","type":{"type":"bytes","logicalType":"decimal","precision":6,"scale":2}},
      {"name":"next","type":["null","Conv"],"default":null}
    ]}"""
    )
    md = document_schema_markdown(rt)
    assert md.startswith("| Field(path) | Type | Documentation |\n|---")
    assert "|  | record | Type: A conversation |" in md
    assert "| when | date | start &lt;day> |" in md
    assert "| amount | decimal(6,2) |" in md
    # recursive reuse prints one row, no infinite walk
    assert md.count("| next? | record |") == 1
    assert truncate(5, "abcdefg") == "abcd…" and truncate(5, "abc") == "abc"


def test_unique_name_validation():
    bad = T.StructType(
        [T.StructField("x", T.IntegerType()), T.StructField("X", T.LongType())]
    )
    with pytest.raises(ValueError, match="duplicate"):
        validate_unique_names(bad)


# --- inference -------------------------------------------------------------


def closed(lo, hi) -> NumberRange:
    return NumberRange(Decimal(lo), True, Decimal(hi), True)


def test_decimal_range_algebra():
    """util/DecimalRange.java:60-150 extend/restrict."""
    a = closed(0, 100)
    b = closed(-50, 50)
    assert a.extend_with(b) == closed(-50, 100)
    assert a.restrict_to(b) == closed(0, 50)
    with pytest.raises(ValueError):
        closed(0, 1).restrict_to(closed(5, 9))


def test_bit_size_and_type_election():
    """SchemaAnalyzer.java:177-207 + DecimalRange.java:177-209."""
    assert elect(closed(0, 1000), True) == PrimitiveType("int")
    # an exclusive bound counts one unit inward: (-2**31-1, 0] holds ints
    assert elect(NumberRange(Decimal(-(2**31) - 1), False, Decimal(0), True), True) == PrimitiveType("int")
    assert elect(closed(0, 9_000_000_000), True) == PrimitiveType("long")
    assert isinstance(elect(closed(0, 10**21), True), DecimalType)
    assert elect(closed("0.5", "999.5"), False) == PrimitiveType("float")
    assert elect(closed("0.123456789", "1.0"), False) == PrimitiveType("double")


# (JSON Schema keywords, XSD restriction base and facets, observed column
# type and values) for one range, and the type each path must elect
_CROSS_PATH = {
    "int-exclusive": (
        {"type": "integer", "minimum": 0, "exclusiveMaximum": 2**31},
        ("integer", {"minInclusive": 0, "maxExclusive": 2**31}),
        ("long", [0, 2**31 - 1]),
        PrimitiveType("int"),
    ),
    "precision-1": (
        {"type": "number", "minimum": 0, "maximum": 0.5},
        ("decimal", {"minInclusive": 0, "maxInclusive": "0.5"}),
        ("double", [0.0, 0.5]),
        PrimitiveType("float"),
    ),
    "int32": (
        {"type": "integer", "minimum": -(2**31), "maximum": 2**31 - 1},
        ("integer", {"minInclusive": -(2**31), "maxInclusive": 2**31 - 1}),
        ("long", [-(2**31), 2**31 - 1]),
        PrimitiveType("int"),
    ),
    "int64": (
        {"type": "integer", "minimum": -(2**63), "maximum": 2**63 - 1},
        ("integer", {"minInclusive": -(2**63), "maxInclusive": 2**63 - 1}),
        ("long", [-(2**63), 2**63 - 1]),
        PrimitiveType("long"),
    ),
    "unbounded-integer": (
        {"type": "integer"},
        ("integer", {}),
        ("long", [None]),
        PrimitiveType("long"),
    ),
    "wider-than-64-bits": (
        {"type": "integer", "minimum": 0, "maximum": 10**20},
        ("integer", {"minInclusive": 0, "maxInclusive": 10**20}),
        ("decimal(38,0)", [Decimal(0), Decimal(10**20)]),
        DecimalType(21, 0),
    ),
}


@pytest.mark.parametrize("case", list(_CROSS_PATH))
def test_one_election_for_every_path(spark, case):
    """JSON Schema, XSD and observed data turn the same range into one
    NumberRange and elect the same type from it."""
    keywords, (base, facets), (dtype, values), want = _CROSS_PATH[case]
    json_type, _ = infer_read_schema(
        {"$schema": "http://json-schema.org/draft-07/schema#", **keywords}
    )
    restriction = "".join(f'<xs:{k} value="{v}"/>' for k, v in facets.items())
    xsd = (
        '<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema"><xs:element name="n">'
        f'<xs:simpleType><xs:restriction base="xs:{base}">{restriction}'
        "</xs:restriction></xs:simpleType></xs:element></xs:schema>"
    )
    xsd_type = to_read_type(XsdAnalyzer(xsd).type_of("n"))
    observed, _ = suggest_read_type(spark.createDataFrame([(v,) for v in values], f"n {dtype}"), "n")
    assert (json_type, xsd_type, observed) == (want, want, want)


def test_suggest_read_type(spark):
    df = spark.createDataFrame(
        [(1, 5_000_000_000, "yes", None, 0.0), (2, 1, "no", "x", 123456.0)],
        "small int, big long, flag string, opt string, real double",
    )
    t, n = suggest_read_type(df, "small")
    assert t == PrimitiveType("int") and not n
    t, _ = suggest_read_type(df, "big")
    assert t == PrimitiveType("long")
    t, _ = suggest_read_type(df, "flag")
    assert isinstance(t, EnumType) and t.symbols == ("no", "yes")
    _, n = suggest_read_type(df, "opt")
    assert n  # observed null → nullable
    t, _ = suggest_read_type(df, "real")
    assert t == PrimitiveType("float")  # 123456.0 has six digits, not seven


def test_suggest_read_type_on_empty_column(spark):
    """No rows observed: the unbounded election, not nullable."""
    df = spark.createDataFrame([], "i long, d double")
    assert suggest_read_type(df, "i") == (PrimitiveType("long"), False)
    assert suggest_read_type(df, "d") == (PrimitiveType("double"), False)


@pytest.mark.parametrize(
    "values",
    [[0.5, float("nan")], [float("-inf"), 0.5], [float("inf"), 1.0, None]],
    ids=["nan", "-inf", "inf"],
)
def test_suggest_read_type_non_finite_elects_double(spark, values):
    """NaN sorts above +Infinity in Spark, so a non-finite minimum or
    maximum hides the finite extremes: the range is unbounded."""
    df = spark.createDataFrame([(v,) for v in values], "d double")
    t, nullable = suggest_read_type(df, "d")
    assert t == PrimitiveType("double")
    assert nullable == (None in values)
