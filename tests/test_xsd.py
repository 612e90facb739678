"""Port of the reference's XsdAnalyzerTest (xml/XsdAnalyzerTest.java:76-300)
against the fixture XSDs in tests/fixtures/xml/ — groups/cardinality,
attributes, simple and complex content, mixed/any coercion, decimal facet
elections, defaults, recursion. Each fixture writes out the case its test
names (FIXTURES.md §6). Closes SURVEY I5-I8 (previously n/a)."""

from __future__ import annotations

from pathlib import Path

import pytest

from avro_conversions_spark.schema.model import DecimalType, PrimitiveType
from avro_conversions_spark.schema.xsd import (
    Card,
    XEnum,
    XScalar,
    XStruct,
    XsdAnalyzer,
    infer_read_schema_from_xsd,
    to_read_type,
    xsd_to_write_type,
)

FIXTURES = Path(__file__).parent / "fixtures" / "xml"


@pytest.fixture(scope="module")
def analyzer() -> XsdAnalyzer:
    return XsdAnalyzer(f"{FIXTURES}/testCases.xsd")


def fields(t: XStruct) -> dict:
    return {f.name: f for f in t.fields}


def test_grouped_structures_and_docs(analyzer):
    """XsdAnalyzerTest.java:80-95: all/choice/sequence nesting, group refs,
    repeated groups make children arrays, docs from type else element."""
    t = analyzer.type_of("GroupStructures")
    assert t.doc.startswith("Record documentation is taken from the type")
    f = fields(t)
    assert f["comment"].card == Card.OPTIONAL
    assert f["comment"].doc.startswith("A comment describing the group")
    group = f["group"].type
    assert f["group"].card == Card.REQUIRED
    gf = fields(group)
    assert gf["one"].card == Card.MULTIPLE and gf["other"].card == Card.MULTIPLE
    assert fields(gf["Keep"].type)["value"].card == Card.REQUIRED


def test_attributes_and_facet_integer_election(analyzer):
    """XsdAnalyzerTest.java:98-114: attribute use=required/optional; the
    0..100 integer restriction elects a 32-bit int."""
    t = analyzer.type_of("AttributesAndAnnotationWithoutDocs")
    f = fields(t)
    assert f["id"].card == Card.REQUIRED and f["id"].type == PrimitiveType("int")
    assert f["something"].card == Card.OPTIONAL and f["something"].type == PrimitiveType("int")


def test_simple_content_variants(analyzer):
    """XsdAnalyzerTest.java:117-133, 183-214."""
    t = analyzer.type_of("ExtensionInSimpleContent")
    f = fields(t)
    assert f["value"].card == Card.REQUIRED and f["value"].type == XScalar("string")
    assert f["version"].card == Card.OPTIONAL
    # restriction in simple content without attributes is a plain scalar
    assert analyzer.type_of("RestrictionInSimpleContent") == XScalar("string")
    # extension of a complex (simple-content) type: value + new attribute
    t = analyzer.type_of("ExtensionOfComplexType")
    f = fields(t)
    assert set(f) == {"value", "version"}
    # mixed complexContent does not change the outcome
    t = analyzer.type_of("ExtensionInMixedComplexContent")
    assert set(fields(t)) == {"value", "version"}


def test_complex_content_extension_and_restriction(analyzer):
    """XsdAnalyzerTest.java:189-243."""
    t = analyzer.type_of("ExtensionWithElements")
    assert set(fields(t)) == {"name", "description", "field"}
    t = analyzer.type_of("RestrictionInComplexContent")
    assert set(fields(t)) == {"name"}  # restriction redefines content
    t = analyzer.type_of("MixedExtensionWithElements")
    assert set(fields(t)) == {"name", "description", "field"}


def test_repetition_rules(analyzer):
    """XsdAnalyzerTest.java:136-181."""
    t = analyzer.type_of("RepeatedNestedRecordWithOptionalField")
    f = fields(t)
    assert f["array"].card == Card.MULTIPLE
    inner = fields(f["array"].type)
    assert inner["one"].card == Card.REQUIRED and inner["two"].card == Card.OPTIONAL
    t = analyzer.type_of("RepeatedSequence")
    f = fields(t)
    assert f["array1"].card == Card.MULTIPLE and f["array2"].card == Card.MULTIPLE
    assert f["array1"].type is f["array2"].type  # same named type instance
    t = analyzer.type_of("RepeatedChoice")
    assert fields(t)["value"].card == Card.MULTIPLE
    t = analyzer.type_of("OptionalAll")
    f = fields(t)
    assert f["value1"].card == Card.OPTIONAL and f["value2"].card == Card.OPTIONAL


def test_mixed_and_any_coercion(analyzer):
    """XsdAnalyzerTest.java:215-232: mixed types coerce to raw string;
    xs:any keeps the whole content as an optional unparsed value."""
    t = analyzer.type_of("MixedComplexType")
    f = fields(t)
    assert f["source"].card == Card.REQUIRED
    assert f["Payload"].type == XScalar("string") and f["Payload"].card == Card.REQUIRED
    t = analyzer.type_of("ArbitraryContent")
    assert t.unparsed
    f = fields(t)
    assert set(f) == {"source", "value"}
    assert f["value"].card == Card.OPTIONAL
    assert f["value"].doc == "The entire element content, unparsed."


def test_default_values(analyzer):
    """XsdAnalyzerTest.java:245-262."""
    t = analyzer.type_of("DefaultValuesForFields")
    f = fields(t)
    assert f["required"].default == "abc" and f["required"].card == Card.REQUIRED
    assert f["req"].default == "ghi" and f["req"].card == Card.REQUIRED
    assert f["opt"].default == "jkl" and f["opt"].card == Card.OPTIONAL
    assert f["array"].card == Card.MULTIPLE
    rt = to_read_type(t)
    rf = {x.name: x for x in rt.fields}
    assert rf["array"].default == []  # array defaults ignored -> empty list


def test_recursion(analyzer):
    """XsdAnalyzerTest.java recursion case: element self-reference and a
    named complex type referenced through another element."""
    t = analyzer.type_of("Recursive")
    f = fields(t)
    assert f["Recursive"].type is t
    hole = f["HoleInTheGround"].type
    assert fields(hole)["RabbitHole"].type is hole
    # same-name anonymous types get distinct class names
    wsa = fields(f["WrappedStringArray"].type)
    wna = fields(f["WrappedNumberArray"].type)
    assert wsa["Array"].type.name != wna["Array"].type.name
    rt = to_read_type(t)
    rf = {x.name: x for x in rt.fields}
    assert rf["Recursive"].type is rt


def test_resolving_test_xsd_scalar_elections():
    """Decimal facet math on resolvingTest.xsd
    (TypeBuildingVisitor.java:198-240)."""
    a = XsdAnalyzer(f"{FIXTURES}/resolvingTest.xsd")
    t = a.type_of("outer")
    f = fields(t)
    inner = fields(f["inner"].type)
    assert inner["numberInt"].type == PrimitiveType("int")
    assert inner["numberLong"].type == PrimitiveType("long")
    assert inner["numberUnbounded"].type == PrimitiveType("long")  # integer -> long
    assert inner["numberHuge"].type == DecimalType(80, 0)
    amount = fields(inner["amount"].type)
    assert amount["value"].type.scale == 2 and amount["value"].type.precision == 8
    assert amount["currency"].card == Card.OPTIONAL
    assert inner["hexBytes"].type == XScalar("binary_hex")
    assert inner["b64Bytes"].type == XScalar("binary_base64")
    assert isinstance(fields(t)["switch"].type, XEnum)
    assert fields(t)["switch"].type.symbols == ("on", "off")
    exact = fields(t)["exactNumber"].type
    assert (exact.precision, exact.scale) == (8, 2)
    # attribute enum with default
    e = inner["e"]
    assert isinstance(e.type, XEnum) and e.default == "one"
    # requiredWithDefault keeps its default
    assert f["requiredWithDefault"].default == "Good Enough"
    assert f["missingArray"].card == Card.MULTIPLE
    assert f["presentOptional"].card == Card.OPTIONAL


def test_write_and_read_type_conversion():
    """End-to-end: XSD -> WriteType annotations and ReadType election."""
    from pyspark.sql import types as T

    xsd = f"{FIXTURES}/resolvingTest.xsd"
    wt = xsd_to_write_type(xsd, "outer")
    assert isinstance(wt.fields["presentArray"].dtype, T.ArrayType)
    inner = wt.fields["inner"]
    assert inner.nullable
    assert inner.fields["hexBytes"].content_encoding == "base16"
    assert inner.fields["d"].format == "date"
    assert inner.fields["dt"].format == "date-time"
    assert inner.fields["e"].symbols == ("one", "two", "three")
    assert isinstance(inner.fields["numberInt"].dtype, T.IntegerType)
    assert isinstance(inner.fields["numberHuge"].dtype, T.DecimalType)
    rt = infer_read_schema_from_xsd(xsd, "outer")
    rf = {x.name: x for x in rt.fields}
    assert rf["switch"].type.symbols == ("on", "off")
    assert rf["estimate"].type.kind == "float" and rf["estimate"].nullable


def test_xsd_write_schema_resolves_against_reference_avsc():
    """The XmlAsAvroParser constructor path (xml/XmlAsAvroParser.java:88-142):
    write schema from resolvingTest.xsd resolves against the read schema
    resolvingTest.avsc — aliases, enum-with-default, lossy
    decimal->float, wrapped-array unwrap, binary encodings, logical types."""
    from avro_conversions_spark.schema import SchemaResolver, from_avsc

    write = xsd_to_write_type(f"{FIXTURES}/resolvingTest.xsd", "outer")
    read, _ = from_avsc(open(f"{FIXTURES}/resolvingTest.avsc").read())
    plans = SchemaResolver(strict_nullability=False).resolve_record(write, read)
    by_name = {p.name: p for p in plans}
    # alias matching (R28): read names resolve from XSD element names
    assert by_name["optionalField"].source == "presentOptional"
    assert by_name["textList"].source == "presentArray"
    assert by_name["approximation"].source == "exactNumber"  # decimal->float (lossy)
    assert by_name["morePrecise"].source == "estimate"
    # enum subset-or-default (R25): write [on,off] vs read [broken]+default
    assert by_name["switch"].source == "switch"
    assert len(plans) == len(read.fields)


def test_xsd_write_schema_resolution_failures():
    """Failure matrix anchors (XmlResolvingTest.java:296-441) driven from
    XSD-derived write types."""
    from avro_conversions_spark.schema import ResolvingFailure, SchemaResolver, from_avsc

    xsd = """
    <xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
      <xs:element name="root">
        <xs:complexType><xs:sequence>
          <xs:element name="many" type="xs:string" maxOccurs="unbounded"/>
          <xs:element name="maybe" type="xs:string" minOccurs="0"/>
        </xs:sequence></xs:complexType>
      </xs:element>
    </xs:schema>"""
    write = xsd_to_write_type(xsd, "root")
    r = SchemaResolver(strict_nullability=True)
    # write MULTIPLE vs read scalar -> fail (R36 cardinality matrix)
    read, _ = from_avsc(
        '{"type":"record","name":"R","fields":[{"name":"many","type":"string"},'
        '{"name":"maybe","type":["null","string"]}]}'
    )
    with pytest.raises(ResolvingFailure):
        r.resolve_record(write, read)
    # write OPTIONAL vs read required w/o default -> fail (R29/R36)
    read2, _ = from_avsc(
        '{"type":"record","name":"R","fields":['
        '{"name":"many","type":{"type":"array","items":"string"}},'
        '{"name":"maybe","type":"string"}]}'
    )
    with pytest.raises(ResolvingFailure):
        r.resolve_record(write, read2)
    # both sides compatible -> plans build
    read3, _ = from_avsc(
        '{"type":"record","name":"R","fields":['
        '{"name":"many","type":{"type":"array","items":"string"}},'
        '{"name":"maybe","type":["null","string"]}]}'
    )
    assert len(r.resolve_record(write, read3)) == 2


def test_fixed_value_is_the_default():
    """A `fixed` value is the only value an element takes, so it stands as
    the default (XML Schema 1.0 Part 1 §3.3.1); test_default_values covers
    the attribute."""
    a = XsdAnalyzer(
        '<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">'
        '<xs:element name="Fixed"><xs:complexType><xs:sequence>'
        '<xs:element name="unit" type="xs:string" fixed="kg"/>'
        "</xs:sequence></xs:complexType></xs:element></xs:schema>"
    )
    f = fields(a.type_of("Fixed"))
    assert f["unit"].default == "kg" and f["unit"].card == Card.REQUIRED


@pytest.mark.parametrize(
    "base, facets, want",
    [
        # every facet narrows one range: the bounds inside totalDigits win
        ("integer", '<xs:totalDigits value="80"/><xs:minInclusive value="0"/>'
         '<xs:maxInclusive value="100"/>', PrimitiveType("int")),
        # a built-in integer type is its value range
        ("int", '<xs:enumeration value="1"/><xs:enumeration value="2"/>', PrimitiveType("int")),
        ("unsignedLong", "", DecimalType(20, 0)),
        # fractionDigits > 0 declares a fixed-point decimal
        ("decimal", '<xs:fractionDigits value="2"/><xs:maxExclusive value="100"/>'
         '<xs:minInclusive value="0"/>', DecimalType(4, 2)),
    ],
    ids=["total-and-bounds", "int-enumeration", "unsigned-long", "fixed-point"],
)
def test_number_facets_form_one_range(base, facets, want):
    """XSD number facets translate to the intersection of what each allows
    (FIXTURES.md §6), and the shared election sizes it."""
    a = XsdAnalyzer(
        '<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema"><xs:element name="n">'
        f'<xs:simpleType><xs:restriction base="xs:{base}">{facets}'
        "</xs:restriction></xs:simpleType></xs:element></xs:schema>"
    )
    assert a.type_of("n") == want

