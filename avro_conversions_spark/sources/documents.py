"""Document sources: JSON / XML text → typed rows under a read schema.

This is the table-scale re-expression of the reference's two parser entry
points (SURVEY.md §2.1 S1-S5, §3.1-3.2):

- JsonAsAvroParser (opwvhk/avro/json/JsonAsAvroParser.java:234-252):
  one JSON document → GenericRecord under an Avro read schema, failures
  thrown per document;
- XmlAsAvroParser (opwvhk/avro/xml/XmlAsAvroParser.java:289-308): same
  for XML via SAX.

Here a whole COLUMN of documents parses in one vectorized pass, and every
entry point runs the same two steps (the reference's parsers likewise
share one resolver base, io/AsAvroParserBase.java:369-398):

1. ``_tokenize``: `from_json`/`from_xml` in PERMISSIVE mode yields an
   all-strings struct (Spark's native, JVM-side parsers — the analogue of
   the reference's Jackson/SAX streaming stage, S3/S5) plus the
   `_corrupt` flag for documents that do not parse at all;
2. ``_typed``: the schema resolver compiles the read schema against the
   flattened, alias-folded struct exactly like the reference's
   resolver-compile step, producing typed conversion Columns with
   defaults/aliases/enum-substitution, and unparseable values and absent
   required fields become `(column, reason)` violations instead of
   exceptions (V9: an engine scanning 10^12 documents must not throw).

``parse_json_column`` and ``parse_xml_column`` differ only in the
tokenizer function; ``parse_xml_with_xsd`` adds occurrence-array
tokenizing, cardinality violations and raw-subtree reassembly.

Nested structure support deliberately matches the reference: records,
arrays (no nested arrays), nullable unions, no maps.
"""

from __future__ import annotations

import re
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from avro_conversions_spark.schema.model import (
    ArrayType,
    Field,
    FixedType,
    LogicalType,
    PrimitiveType,
    ReadType,
    RecordType,
)
from avro_conversions_spark.schema.resolution import SchemaResolver, _src, from_spark_schema


def _tokenizer_schema(rt: ReadType) -> T.DataType:
    """The all-strings struct the tokenizer should produce: leaves as
    strings (the resolver applies typed conversion + validation), shape
    from the read schema so unknown writer fields are pruned at parse."""
    if isinstance(rt, RecordType):
        return T.StructType(
            [T.StructField(n, _tokenizer_schema(f.type), True) for f in rt.fields for n in f.match_names()]
        )
    if isinstance(rt, ArrayType):
        return T.ArrayType(_tokenizer_schema(rt.items), True)
    return T.StringType()


def _annotations(rt: ReadType, binary_encoding: str) -> dict:
    """WriteType annotations needed for resolution of string leaves:
    date/time/timestamp formats and binary encodings come from the READ
    side here (trust-the-format), mirroring the reference's base rules."""
    if isinstance(rt, RecordType):
        out = {}
        for f in rt.fields:
            ann = _annotations(f.type, binary_encoding)
            if ann:
                for n in f.match_names():
                    out[n] = ann
        return out
    if isinstance(rt, ArrayType):
        inner = _annotations(rt.items, binary_encoding)
        return {"items": inner} if inner else {}
    if isinstance(rt, LogicalType):
        if rt.kind == "date":
            return {"format": "date"}
        if rt.kind.startswith("time-"):
            return {"format": "time"}
        return {"format": "date-time"}
    if isinstance(rt, FixedType) or (isinstance(rt, PrimitiveType) and rt.kind == "bytes"):
        return {"content_encoding": binary_encoding}
    return {}


def _violation(pred: Column, column: str, reason: str) -> Column:
    return F.when(pred, F.struct(F.lit(column).alias("column"), F.lit(reason).alias("reason")))


def _non_null(structs: Sequence[Column]) -> Column:
    return F.filter(F.array(*structs), lambda x: x.isNotNull())


def _merged(f: Field) -> Column:
    """Alias matching (doc/index.md:34-47): the tokenizer captured every
    alias as its own field; fold them into the primary name. getField, not
    a dotted path string: legal XML names may contain '.'."""
    return F.coalesce(*[F.col("_doc").getField(n) for n in f.match_names()])


def _tokenize(
    df: DataFrame,
    doc_col: str,
    tok_fields: list[T.StructField],
    from_fn: Callable[..., Column],
    keep_cols: list[str],
    options: dict | None = None,
) -> DataFrame:
    """keep_cols + `_raw` text + `_doc` all-strings struct + `_corrupt`.

    PERMISSIVE mode puts the raw text of an unparseable document into the
    corrupt-record column instead of failing: the reference throws per
    document (IOException "Invalid JSON", JsonAsAvroParserTest.java:90-95;
    SAXException, XmlResolvingTest.java:163-212) and V9 turns that into a
    row flag. from_xml alone returns a null-filled struct, not null, so the
    corrupt-record column is what flags a non-XML document."""
    parsed = from_fn(
        F.col(doc_col),
        T.StructType(tok_fields + [T.StructField("_corrupt_record", T.StringType(), True)]),
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record", **(options or {})},
    )
    staged = df.select(*keep_cols, F.col(doc_col).alias("_raw"), parsed.alias("_doc"))
    return staged.withColumn(
        "_corrupt",
        F.col("_raw").isNotNull()
        & (F.col("_doc").isNull() | F.col("_doc._corrupt_record").isNotNull()),
    )


def _typed(
    staged: DataFrame,
    read: RecordType,
    binary_encoding: str,
    keep_cols: list[str],
    value_cols: list[Column],
    struct_viols: Sequence[Column] = (),
) -> DataFrame:
    """Resolve the tokenized values under ``read``: keep_cols + one typed
    column per read field + `_violations` (array of (column, reason)
    structs; ``struct_viols`` first, then the resolver's) + `_corrupt`."""
    # structural violations reference `_doc`, so they must materialize in
    # THIS projection — `flat` drops `_doc`
    flat = staged.select(
        *keep_cols,
        "_raw",
        "_corrupt",
        *([_non_null(struct_viols).alias("_struct_viols")] if struct_viols else []),
        *value_cols,
    )
    names = {f.name for f in read.fields}
    wt = from_spark_schema(
        T.StructType([x for x in flat.schema.fields if x.name in names]),
        _annotations(read, binary_encoding),
    )
    plans = SchemaResolver(strict_nullability=False, trust_reader=True).resolve_record(wt, read)
    viols = []
    for p in plans:
        if (vp := p.violation_pred()) is not None:
            viols.append(_violation(vp, p.name, p.converter.reason or "UNPARSEABLE"))
        if not p.nullable:
            # V3/R28: a required field absent from the document (its token
            # null, so a value the resolver rejected is not reported twice),
            # unless a structural check already named it
            missing = ~F.col("_corrupt") & _src(p.source).isNull() & p.value().isNull()
            if struct_viols:
                missing &= ~F.exists("_struct_viols", lambda x: x["column"] == p.name)
            viols.append(_violation(missing, p.name, "MISSING_REQUIRED_FIELD"))
    arrays = [F.col("_struct_viols")] if struct_viols else []
    if viols:
        arrays.append(_non_null(viols))
    viol_arr = F.concat(*arrays) if len(arrays) > 1 else arrays[0] if arrays else F.array()
    return flat.select(
        *keep_cols,
        *[p.value() for p in plans],
        viol_arr.alias("_violations"),
        "_corrupt",
    )


def _parse(
    df: DataFrame,
    doc_col: str,
    read: RecordType,
    binary_encoding: str,
    keep_cols: list[str] | None,
    from_fn: Callable[..., Column],
) -> DataFrame:
    """Plain JSON / XML: one tokenizer field per read-field name."""
    keep = keep_cols or []
    staged = _tokenize(df, doc_col, list(_tokenizer_schema(read).fields), from_fn, keep)
    values = [_merged(f).alias(f.name) for f in read.fields]
    return _typed(staged, read, binary_encoding, keep, values)


def parse_json_column(
    df: DataFrame,
    json_col: str,
    read: RecordType,
    binary_encoding: str = "base64",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Parse a string column of JSON documents under ``read``.

    Output: keep_cols + one typed column per read field + `_violations`
    (array of structs (column, reason)) + `_corrupt` (true when the
    document is not valid JSON at all — reference behavior:
    IOException 'Invalid JSON', json/JsonAsAvroParserTest.java:90-95).
    """
    return _parse(df, json_col, read, binary_encoding, keep_cols, F.from_json)


def parse_xml_column(
    df: DataFrame,
    xml_col: str,
    read: RecordType,
    binary_encoding: str = "base16",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """XML variant (reference: XmlAsAvroParser). Spark 4 ships from_xml
    natively; repeated elements map to arrays in the tokenizer schema, the
    cardinality rules (R36) are enforced by the resolver."""
    return _parse(df, xml_col, read, binary_encoding, keep_cols, F.from_xml)


def read_json_documents(
    spark, path: str, read: RecordType, binary_encoding: str = "base64"
) -> DataFrame:
    """File-source form (S2: parse(URL)): newline-delimited JSON files →
    typed rows. The text source is splittable, so a 100 TB corpus scans
    in parallel; schema inference is skipped (we declare the tokenizer
    schema), which also avoids a full inference pre-pass."""
    raw = spark.read.text(path).withColumnRenamed("value", "_json")
    return parse_json_column(raw, "_json", read, binary_encoding)


def parse_xml_with_xsd(
    df: DataFrame,
    xml_col: str,
    xsd_source: str,
    root_element: str,
    read: RecordType | None = None,
    binary_encoding: str = "base16",
    keep_cols: list[str] | None = None,
    xsd_resolver: dict[str, str] | None = None,
) -> DataFrame:
    """XML parsing with runtime XSD STRUCTURAL validation
    (XmlAsAvroParser.java:263-278: the reference SAX-validates each
    document against the XSD while parsing; failure tests
    xml/XmlResolvingTest.java:163-212).

    Well-formed-but-invalid documents produce violation rows instead of
    SAXExceptions (V9): a required element/attribute missing from the
    document flags ``MISSING_REQUIRED_ELEMENT`` (the reference yields an
    object that explodes on first use — here the null is never silent), a
    maxOccurs=1 element appearing more than once flags
    ``TOO_MANY_ELEMENTS`` (first occurrence is kept as the value), and an
    enumeration-facet mismatch flags the resolver's enum violation because
    the XSD's facets flow into the default read schema.

    Cardinality detection works by tokenizing every single-valued root
    field as ``array<...>`` — ``from_xml`` collects repeated elements, so
    occurrence counting is a JVM-side ``size()``, not a reparse.
    Structural rules are enforced at the root-record level (nested records
    validate through the resolver's null/violation path, matching the
    repo's flat-table semantic — see SURVEY S5 note).

    ``read`` defaults to the XSD-inferred read schema
    (``infer_read_schema_from_xsd``); pass a declared .avsc read schema to
    resolve against it instead (names must match the XSD's elements).
    """
    from avro_conversions_spark.schema.xsd import (
        Card,
        XsdAnalyzer,
        XStruct,
        to_read_type,
    )

    xt = XsdAnalyzer(xsd_source, xsd_resolver).type_of(root_element)
    if not isinstance(xt, XStruct):
        raise ValueError(f"root element {root_element!r} is not a structure")
    if read is None:
        rt = to_read_type(xt)
        if not isinstance(rt, RecordType):
            raise ValueError(f"root element {root_element!r} has no record read schema")
        read = rt
    cards = {f.name: f.card for f in xt.fields}
    # fields whose XSD type carries unparsed content (mixed / xs:any —
    # TypeWithUnparsedContent): their 'value' member must hold the RAW
    # inner subtree re-assembled from the document, markup included
    # (SimpleContentAdapter.java:44-135; XmlResolvingTest
    # testContentOfMixedElements) — from_xml would only yield the
    # character data, dropping nested markup
    unparsed_fields = {
        f.name for f in xt.fields if isinstance(f.type, XStruct) and f.type.unparsed
    }

    # tokenizer: single-valued fields wrapped as arrays for occurrence counts
    tok_fields = []
    for f in read.fields:
        inner = _tokenizer_schema(f.type)
        multiple = cards.get(f.name) == Card.MULTIPLE
        for n in f.match_names():
            tok_fields.append(
                T.StructField(n, inner if multiple else T.ArrayType(inner, True), True)
            )
    keep = keep_cols or []
    # attributes and simpleContent text map onto the read schema's plain
    # field names ('type', 'value'), not '_type' / '_VALUE'
    staged = _tokenize(
        df, xml_col, tok_fields, F.from_xml, keep, {"attributePrefix": "", "valueTag": "value"}
    )

    def _raw_subtree(tag: str) -> Column:
        """Re-assemble the raw inner content of <tag>...</tag> from the
        document text (optional namespace prefix, attributes, dotall).
        The tag name is regex-escaped — legal XML names may contain regex
        metacharacters ('.', '-') that would otherwise over-match.
        Limitation vs the reference's SAX stack: a tag self-nested inside
        its own unparsed payload truncates at the first close tag."""
        tag = re.escape(tag)
        rx = rf"(?s)<(?:\w+:)?{tag}(?:\s[^>]*)?>(.*?)</(?:\w+:)?{tag}>"
        inner = F.trim(F.regexp_extract(F.col("_raw"), rx, 1))
        return F.when(inner != "", inner)

    # structural checks + scalarization of the occurrence arrays
    value_cols, struct_viols = [], []
    for f in read.fields:
        merged = _merged(f)
        card = cards.get(f.name, Card.OPTIONAL)
        if card == Card.MULTIPLE:
            value_cols.append(merged.alias(f.name))
            continue
        n_occ = F.coalesce(F.array_size(merged), F.lit(0))
        if card == Card.REQUIRED:
            struct_viols.append(
                _violation(~F.col("_corrupt") & (n_occ == 0), f.name, "MISSING_REQUIRED_ELEMENT")
            )
        struct_viols.append(
            _violation(~F.col("_corrupt") & (n_occ > 1), f.name, "TOO_MANY_ELEMENTS")
        )
        scalar = F.element_at(merged, 1)
        if f.name in unparsed_fields and isinstance(f.type, RecordType):
            # swap the tokenizer's character-data 'value' for the raw
            # re-assembled subtree; attributes keep their parsed values
            members = [
                (scalar.getField(rf.name).alias(rf.name))
                if rf.name != "value"
                else _raw_subtree(f.name).alias("value")
                for rf in f.type.fields
            ]
            scalar = F.when(scalar.isNotNull(), F.struct(*members))
        value_cols.append(scalar.alias(f.name))
    return _typed(staged, read, binary_encoding, keep, value_cols, struct_viols)
