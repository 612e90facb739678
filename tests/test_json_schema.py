"""Port of the reference's SchemaAnalyzerTest (json/SchemaAnalyzerTest.java:
21-150) — JSON-Schema walk, draft-version keyword gating, the
INTERSECT/UNION lattice, and the Avro-type election, asserted structurally
against the fixtures in tests/fixtures/json/. Each fixture writes out the
case its test names (FIXTURES.md §6); TestRecordAll.avsc is the election
FIXTURES.md §3 and SURVEY I4 prescribe."""

from __future__ import annotations

from decimal import Decimal
from pathlib import Path

import pytest
from pyspark.sql import types as T

from avro_conversions_spark.schema import (
    AnalysisFailure,
    ArrayType,
    DecimalType,
    EnumType,
    LogicalType,
    NumberRange,
    PrimitiveType,
    RecordType,
    from_avsc,
    infer_read_schema,
    load_json_schema,
    to_write_type,
)

FIXTURES = Path(__file__).parent / "fixtures" / "json"


def load(name: str):
    return load_json_schema(f"{FIXTURES}/{name}")


# ---------------------------------------------------------------- the walk


def test_draft4_semantics():
    """SchemaAnalyzerTest.java:21-37: boolean exclusive bounds; const,
    contentEncoding, if/then/else and contains ignored; $ref replaces."""
    p = load("draft4-schema.json")
    # root $ref replaced the sibling title/description entirely
    assert p.effective_title() == "TestCase"
    assert p.description is None
    assert p.get_type() == "object"
    assert p.required == ["number", "choice", "text"]
    num = p.properties["number"]
    # fraction in the bound -> NOT an integer range in draft 4
    assert "integer" not in num.types and "number" in num.types
    assert num.number_range == NumberRange(Decimal(0), True, Decimal("123.0"), False)
    choice = p.properties["choice"]
    assert choice.enum_values == ["no", "maybe"]  # const ignored in draft 4
    text = p.properties["text"]
    assert text.is_nullable() and text.default == "abc"
    assert text.content_encoding is None  # draft < 7
    items = p.properties["names"].item_props
    # tuple items + additionalItems apply; contains is ignored
    assert items.types == {"string", "number", "null"}
    # 'foo' from the ignored if/then must not appear
    assert "foo" not in p.properties


def test_draft6_semantics():
    """SchemaAnalyzerTest.java:39-55: numeric exclusive bounds; const joins
    enums; contains applies; zero fractions allowed in integer ranges."""
    p = load("draft6-schema.json")
    num = p.properties["number"]
    assert {"integer", "number"} <= num.types  # 123.0 is integral now
    assert num.number_range == NumberRange(Decimal(0), True, Decimal("123.0"), False)
    # const 'yes' INTERSECT enum [yes, no] -> [yes]
    assert p.properties["choice"].enum_values == ["yes"]
    items = p.properties["names"].item_props
    # single 'items' + 'contains'; additionalItems and unevaluatedItems ignored
    assert items.types == {"null", "boolean"}
    assert items.effective_title() == "items"


def test_draft7_semantics():
    """SchemaAnalyzerTest.java:57-68: contentEncoding and if/then/else."""
    p = load("draft7-schema.json")
    assert set(p.required) == {"choice", "number"}
    assert p.properties["bytes"].content_encoding == "base64"
    # if/then/else UNION (maybe ∪ missing ∪ reason) INTERSECTed into root
    assert p.properties["choice"].enum_values == ["maybe"]
    assert p.properties["missing"].get_type() == "string"
    assert p.properties["reason"].get_type() == "string"


def test_draft2020_semantics():
    """SchemaAnalyzerTest.java:80-97: prefixItems/unevaluatedItems, $ref as
    INTERSECT sibling, enum unions, recursion."""
    p = load("draft2020-12-schema.json")
    assert p.effective_title() == "TestCase"
    bag = p.properties["mixedBag"].item_props
    assert bag.types == {"string", "number", "boolean", "null"}
    lst = p.properties["list"].item_props
    assert lst.types == {"string"}
    small = p.properties["smallNumber"]
    assert small.effective_title() == "int"
    assert {"integer", "number"} <= small.types
    assert small.number_range == NumberRange(Decimal(0), False, Decimal(2147483648), False)
    assert p.properties["multipleChoice"].enum_values[:2] == ["x", "y"]
    assert len(p.properties["multipleChoice"].enum_values) == 3
    assert p.properties["stillAnEnum"].enum_values == ["x", "y"]
    droste = p.properties["droste"]
    assert droste.properties["droste"] is droste  # recursion-safe memoization


def test_invalid_and_null_schemas():
    """SchemaAnalyzerTest.java:138-140."""
    with pytest.raises(AnalysisFailure):
        load("invalid.schema.json")
    with pytest.raises(ValueError, match="no applicable types"):
        infer_read_schema(load("null.schema.json"))


# ------------------------------------------------------------- the election


def test_avro_election_matches_reference_fixture():
    """TestRecord.schema.json -> Avro, vs the expected TestRecordAll.avsc
    (SchemaAnalyzerTest.java:142-148), structurally."""
    rt, nullable = infer_read_schema(load("TestRecord.schema.json"))
    exp, _ = from_avsc(open(f"{FIXTURES}/TestRecordAll.avsc").read())
    assert isinstance(rt, RecordType) and rt.name == "TestCase"
    got = {f.name: f for f in rt.fields}
    want = {f.name: f for f in exp.fields}
    assert set(got) == set(want)
    for name in want:
        g, w = got[name], want[name]
        assert g.nullable == w.nullable, name
        if name == "weirdStuff":
            continue  # recursive record: checked below
        assert type(g.type) is type(w.type), name
        if isinstance(w.type, DecimalType):
            assert (g.type.precision, g.type.scale) == (w.type.precision, w.type.scale)
        if isinstance(w.type, (PrimitiveType, LogicalType)):
            assert g.type.kind == w.type.kind, name
        if isinstance(w.type, EnumType):
            assert g.type.symbols == w.type.symbols
        if isinstance(w.type, ArrayType):
            assert g.type.items.kind == w.type.items.kind
        if w.has_default and w.default is not None:
            assert g.default == w.default, name
    ws = got["weirdStuff"].type
    assert isinstance(ws, RecordType) and ws.name == "weirdStuff"
    wsf = {f.name: f for f in ws.fields}
    assert wsf["explanation"].default == "Please explain why"
    # the rabbit hole: recursive field resolves to the record itself
    assert wsf["rabbitHole"].type is ws
    assert wsf["rabbitHole"].nullable


def test_named_type_reference_in_avsc():
    """io/DelegatingResolver.java:6-52 analogue: named (recursive) type
    references in .avsc resolve through the registry."""
    rt, _ = from_avsc(
        """
    {"type":"record","name":"Node","fields":[
      {"name":"label","type":"string"},
      {"name":"next","type":["null","Node"],"default":null},
      {"name":"kind","type":{"type":"enum","name":"Kind","symbols":["a","b"]}},
      {"name":"kind2","type":"Kind"}
    ]}"""
    )
    f = {x.name: x for x in rt.fields}
    assert f["next"].type is rt and f["next"].nullable
    assert f["kind2"].type is f["kind"].type


# ------------------------------------------------------------ the lattice


def test_number_range_lattice_open_bounds():
    """util/DecimalRange.java:60-150 with null bounds."""
    a = NumberRange(Decimal(0), True, None, False)         # [0, inf)
    b = NumberRange(None, False, Decimal("10.5"), True)    # (-inf, 10.5]
    assert a.restrict_to(b) == NumberRange(Decimal(0), True, Decimal("10.5"), True)
    assert a.extend_with(b) == NumberRange(None, False, None, False)
    assert a.restrict_to(b).required_precision() == 3
    assert a.restrict_to(b).required_scale() == 1
    assert NumberRange().integer_bit_size() == 0
    # BigInteger.bitLength() is a two's-complement length (DecimalRange.java:177-185)
    assert NumberRange(Decimal(-(2**31)), True, Decimal(2**31 - 1), True).integer_bit_size() == 32
    assert NumberRange(Decimal(-(2**31) - 1), True, Decimal(0), True).integer_bit_size() == 33
    assert NumberRange(Decimal(-(2**63)), True, Decimal(2**63 - 1), True).integer_bit_size() == 64


def test_write_type_from_json_schema():
    """The declared-write-schema path: annotations come from the document,
    not hand-built dicts (json/JsonAsAvroParser.java:104-118)."""
    wt = to_write_type(
        """
    {"$schema": "http://json-schema.org/draft-07/schema#",
     "title": "Event", "type": "object",
     "required": ["event_id", "event_type"],
     "properties": {
       "event_id": {"type": "integer", "minimum": 0, "maximum": 9000000000},
       "event_type": {"enum": ["view", "click"]},
       "when": {"type": "string", "format": "date-time"},
       "payload": {"type": "string", "contentEncoding": "base64"},
       "score": {"type": "number", "minimum": 0, "maximum": 1.5}
     }}"""
    )
    f = wt.fields
    assert isinstance(f["event_id"].dtype, T.LongType)
    assert f["event_id"].range == NumberRange(Decimal(0), True, Decimal(9000000000), True)
    assert not f["event_id"].nullable and f["when"].nullable
    assert f["event_type"].symbols == ("view", "click")
    assert f["when"].format == "date-time"
    assert f["payload"].content_encoding == "base64"
    assert isinstance(f["score"].dtype, T.FloatType)


def test_fractional_bounds_keep_every_digit():
    """Schema text parses fractions as Decimal: the bounds
    ±99999999999.999999 elect decimal(17,6) (util/DecimalRange.java), not
    the long that the float 100000000000.0 would give, and the write type
    keeps them as its range and resolves against a read decimal(17,6).
    Numbers in a list or dict default render as written."""
    from avro_conversions_spark.schema import SchemaResolver

    text = """
    {"$schema": "http://json-schema.org/draft-07/schema#",
     "title": "Amounts", "type": "object", "required": ["fixedPoint"],
     "properties": {
       "fixedPoint": {"type": "number",
                      "minimum": -99999999999.999999, "maximum": 99999999999.999999},
       "weights": {"type": "array", "items": {"type": "number"}, "default": [1.5, 2]},
       "limits": {"type": "array", "items": {"type": "number"},
                  "default": [{"hi": 99999999999.999999}]}
     }}"""
    wt = to_write_type(text)
    assert wt.fields["fixedPoint"].dtype == T.DecimalType(17, 6)
    assert wt.fields["fixedPoint"].range.hi == Decimal("99999999999.999999")
    read, _ = from_avsc(
        '{"type":"record","name":"Amounts","fields":[{"name":"fixedPoint","type":'
        '{"type":"bytes","logicalType":"decimal","precision":17,"scale":6}}]}'
    )
    plans = SchemaResolver().resolve_record(wt, read)
    assert [p.source for p in plans] == ["fixedPoint"]
    assert plans[0].converter.spark_type == T.DecimalType(17, 6)
    props = load_json_schema(text).properties
    assert props["weights"].default == "[1.5, 2]"
    assert props["limits"].default == '[{"hi"=99999999999.999999}]'



def test_exclusive_integer_bound_resolves_against_int():
    """An exclusive integer bound sizes the write type as every other path
    does: [0, 2**31) is an int and resolves against a read int."""
    from avro_conversions_spark.schema import SchemaResolver

    wt = to_write_type(
        '{"$schema": "http://json-schema.org/draft-07/schema#", "title": "R",'
        ' "type": "object", "required": ["x"], "properties":'
        ' {"x": {"type": "integer", "minimum": 0, "exclusiveMaximum": 2147483648}}}'
    )
    conv = SchemaResolver().resolve(wt.fields["x"], PrimitiveType("int"))
    assert conv.spark_type == T.IntegerType()


def test_const_beside_enum_intersects():
    """From draft 6 a const beside an enum in one node INTERSECTs it, as
    allOf [{const}, {enum}] does; a const outside the enum leaves none."""
    doc = '{"$schema": "http://json-schema.org/draft-06/schema#", %s}'
    assert load_json_schema(doc % '"const": "yes", "enum": ["yes", "no"]').enum_values == ["yes"]
    assert load_json_schema(doc % '"const": "maybe", "enum": ["yes", "no"]').enum_values == []
    assert load_json_schema(doc % '"const": "yes"').enum_values == ["yes"]


@pytest.mark.parametrize(
    "node",
    [
        '{"minimum": "abc"}',
        '{"exclusiveMinimum": true}',  # the draft-4 form, under draft 7
        '{"enum": "xyz"}',
        '{"type": "object", "required": "ab"}',
    ],
    ids=["minimum", "draft4-exclusive", "enum", "required"],
)
def test_malformed_keyword_names_the_pointer(node):
    """A keyword of the wrong JSON type is an AnalysisFailure at its node."""
    with pytest.raises(AnalysisFailure, match="#/properties/x"):
        load_json_schema(
            '{"$schema": "http://json-schema.org/draft-07/schema#",'
            f' "title": "R", "type": "object", "properties": {{"x": {node}}}}}'
        )


def test_benchmark_turn_read_type():
    """The read type the parse_documents benchmark workload stages from
    ``benchmark.inputs.TURN_SCHEMA`` (its plan depends on this type)."""
    from benchmark import inputs

    rt, nullable = infer_read_schema(inputs.TURN_SCHEMA)
    f = {x.name: x for x in rt.fields}
    assert not nullable and rt.name == "Turn"
    assert f["turn_idx"].type == PrimitiveType("int")
    assert f["role"].type == EnumType("Role", ("system", "user", "assistant", "tool"))
    assert f["ts"].type == LogicalType("timestamp-millis")
    assert [n for n in f if not f[n].nullable] == ["conv_id", "turn_idx", "role"]
