"""XSD ingestion (SURVEY.md §2.6 I5-I8): declared XML write schemas.

Re-expresses the reference's XSD analysis semantics in idiomatic Python
over ``xml.etree`` (the reference drives Apache ws-commons XmlSchemaWalker;
we walk the document directly — same outputs, different machinery):

- scalar mapping; number facets (fractionDigits/totalDigits/min/max)
  translate to a ``model.NumberRange`` that ``model.elect`` sizes, the
  same election as JSON Schema and observed data
  (xml/TypeBuildingVisitor.java:174-264);
- cardinality stack: particle minOccurs/maxOccurs + nillable, group
  adjustment (choice members optional, repeated groups make children
  arrays), most-permissive-wins (xml/datamodel/Cardinality.java:17-90);
- attributes (use=required/optional, defaults), simpleContent extension /
  restriction (scalar content + attributes -> 'value' field), complexContent
  extension (base fields + own) / restriction (own fields only)
  (xml/TypeBuildingVisitor.java:296-318; TypeStructureBuilder.java:52-100);
- mixed content coerced to raw string; xs:any discards parsed elements and
  keeps the whole content as an optional raw 'value' field
  (xml/TypeBuildingVisitor.java:369-377; TypeFields.java:60-72);
- recursion-safe named-type registry: types traverse once, repeated use
  references the same instance (TypeStructureBuilder.java docs).

Outputs: an ``XStruct`` tree whose leaves are text scalars (``XScalar``),
enums, and booleans and numbers as their elected ``ReadType``, plus
converters to
- ``WriteType`` (declared write schema for SchemaResolver — formats,
  encodings, symbols annotated), and
- ``ReadType`` (Avro election parity with datamodel/*.toSchema()).
"""

from __future__ import annotations

import enum
from dataclasses import dataclass, field
from decimal import MAX_PREC, ROUND_HALF_UP, Context, Decimal
from xml.etree import ElementTree as ET

from pyspark.sql import types as T

from avro_conversions_spark.schema.model import (
    ArrayType,
    DecimalType,
    EnumType,
    Field,
    LogicalType,
    NumberRange,
    PrimitiveType,
    ReadType,
    RecordType,
    elect,
    to_spark_type,
)

XSNS = "http://www.w3.org/2001/XMLSchema"
UNPARSED_DOC = "The entire element content, unparsed."


def _x(tag: str) -> str:
    return f"{{{XSNS}}}{tag}"


def _local(qname: str) -> str:
    return qname.rsplit(":", 1)[-1]


class Card(enum.IntEnum):
    """xml/datamodel/Cardinality.java:17-90 (most permissive wins)."""

    REQUIRED = 0
    OPTIONAL = 1
    MULTIPLE = 2

    def adjust(self, other: "Card") -> "Card":
        return Card(max(self, other))


# ------------------------------------------------------------------- model


@dataclass(frozen=True)
class XScalar:
    """A value written as text: its write type is a string."""

    kind: str  # date|datetime|time|string|binary_hex|binary_base64


@dataclass(frozen=True)
class XEnum:
    name: str
    symbols: tuple[str, ...]
    doc: str | None = None


@dataclass
class XField:
    name: str
    card: Card
    type: object
    doc: str | None = None
    default: object = None


@dataclass
class XStruct:
    name: str
    doc: str | None = None
    fields: list[XField] = field(default_factory=list)
    unparsed: bool = False  # TypeWithUnparsedContent


_BUILTIN_SCALARS = {
    "boolean": PrimitiveType("boolean"),
    "float": PrimitiveType("float"),
    "double": PrimitiveType("double"),
    "date": XScalar("date"),
    "dateTime": XScalar("datetime"),
    "time": XScalar("time"),
    "string": XScalar("string"),
    "anyURI": XScalar("string"),
    "normalizedString": XScalar("string"),
    "token": XScalar("string"),
    "language": XScalar("string"),
    "Name": XScalar("string"),
    "NCName": XScalar("string"),
    "NMTOKEN": XScalar("string"),
    "ID": XScalar("string"),
    "IDREF": XScalar("string"),
    "hexBinary": XScalar("binary_hex"),
    "base64Binary": XScalar("binary_base64"),
}


def _integers(lo: int | None, hi: int | None) -> dict:
    """The facets of a built-in integer type: fractionDigits=0 and its
    value bounds (TypeBuildingVisitor.java:198-240)."""
    bounds = {"minInclusive": lo, "maxInclusive": hi}
    return {"fractionDigits": "0", **{k: str(v) for k, v in bounds.items() if v is not None}}


# decimal-family built-ins elect via their facets
_DECIMAL_FAMILY = {
    "decimal": {},
    "integer": _integers(None, None),
    "nonNegativeInteger": _integers(0, None),
    "positiveInteger": _integers(1, None),
    "nonPositiveInteger": _integers(None, 0),
    "negativeInteger": _integers(None, -1),
    "long": _integers(-(2**63), 2**63 - 1),
    "int": _integers(-(2**31), 2**31 - 1),
    "short": _integers(-(2**15), 2**15 - 1),
    "byte": _integers(-(2**7), 2**7 - 1),
    "unsignedLong": _integers(0, 2**64 - 1),
    "unsignedInt": _integers(0, 2**32 - 1),
    "unsignedShort": _integers(0, 2**16 - 1),
    "unsignedByte": _integers(0, 2**8 - 1),
}

_FACET_NAMES = (
    "fractionDigits totalDigits minInclusive maxInclusive minExclusive "
    "maxExclusive enumeration"
).split()


def _particle_card(el: ET.Element) -> Card:
    """Cardinality.of(particle) (Cardinality.java:66-80)."""
    mx = el.get("maxOccurs", "1")
    if mx == "unbounded" or int(mx) > 1:
        return Card.MULTIPLE
    if int(el.get("minOccurs", "1")) < 1 or el.get("nillable") == "true":
        return Card.OPTIONAL
    return Card.REQUIRED


def _merge_attrs(base: list[XField], derived: list[XField]) -> list[XField]:
    """Flatten an attribute inheritance chain: base attributes keep their
    position (base-first), a derived re-declaration overrides in place."""
    out = list(base)
    index = {f.name: i for i, f in enumerate(out)}
    for f in derived:
        if f.name in index:
            out[index[f.name]] = f
        else:
            index[f.name] = len(out)
            out.append(f)
    return out


def _doc(el: ET.Element | None) -> str | None:
    if el is None:
        return None
    docs = [
        (d.text or "").strip()
        for ann in el.findall(_x("annotation"))
        for d in ann.findall(_x("documentation"))
    ]
    out = "\n".join(d for d in docs if d)
    return out or None


# bounds and their rounding keep every digit
_EXACT = Context(prec=MAX_PREC)
_BOUND_FACETS = {
    "minInclusive": lambda d: NumberRange(d, True),
    "minExclusive": lambda d: NumberRange(d, False),
    "maxInclusive": lambda d: NumberRange(hi=d, hi_incl=True),
    "maxExclusive": lambda d: NumberRange(hi=d),
}


def _elect_decimal(facets: dict) -> ReadType:
    """Number facets -> the elected type (TypeBuildingVisitor.java:198-240).
    The facets translate to one range, the intersection of what each
    allows: bounds round HALF_UP to fractionDigits, and totalDigits t
    allows ±(10**t - 1) units of the scale. fractionDigits=0 makes the range
    integral; fractionDigits > 0 declares decimal(p, fractionDigits) once
    the range bounds p."""
    frac = facets.get("fractionDigits")
    scale = None if frac is None else int(frac)
    rng = NumberRange()
    for name, bound in _BOUND_FACETS.items():
        if facets.get(name) is not None:
            d = Decimal(facets[name])
            if scale is not None:
                d = d.quantize(Decimal(1).scaleb(-scale), ROUND_HALF_UP, _EXACT)
            rng = rng.restrict_to(bound(d))
    if facets.get("totalDigits") is not None:
        most = Decimal(f"{10 ** int(facets['totalDigits']) - 1}E-{scale or 0}")
        rng = rng.restrict_to(NumberRange(most.copy_negate(), True, most, True))
    p = rng.required_precision()
    return DecimalType(p, scale) if scale and p else elect(rng, integral=scale == 0)


class XsdAnalyzer:
    """Parse an XSD document; build write/read type trees per root element.
    Reference entry point: xml/XsdAnalyzer.java:115-143."""

    def __init__(self, source: str, resolver: dict[str, str] | None = None):
        """``source``: XSD document text or a file path.  ``resolver``:
        optional ``{systemId: document-or-path}`` map for ``xs:include`` /
        ``xs:import`` schemaLocations — the offline-friendly analogue of
        the reference's URL-resolving ``XmlSchemaCollection``
        (xml/XsdAnalyzer.java:57).  Locations absent from the map fall
        back to the filesystem; anything unresolvable raises a clear
        ValueError at analysis time (never at task runtime)."""
        import os

        s = source.strip()
        base_dir: str | None = None
        if not s.startswith("<"):
            with open(source, encoding="utf-8") as fh:
                s = fh.read()
            # relative xs:include/xs:import schemaLocations resolve against
            # the including document's directory, like the reference's
            # URL-based XmlSchemaCollection — not the process CWD
            # (round-4 ADVICE)
            base_dir = os.path.dirname(os.path.abspath(source))
        self.root = ET.fromstring(s)
        self.target_ns = self.root.get("targetNamespace", "")
        self.elements: dict[str, ET.Element] = {}
        self.complex_types: dict[str, ET.Element] = {}
        self.simple_types: dict[str, ET.Element] = {}
        self.groups: dict[str, ET.Element] = {}
        self.attr_groups: dict[str, ET.Element] = {}
        self._register(self.root, resolver or {}, seen=set(), base_dir=base_dir)
        # recursion registry: named complex types AND top-level elements
        # register before their fields build (TypeStructureBuilder docs)
        self._built: dict[str, object] = {}
        self._used_names: set[str] = set()

    def _register(
        self,
        doc_root: ET.Element,
        resolver: dict[str, str],
        seen: set[str],
        base_dir: str | None = None,
    ) -> None:
        """Merge one schema document's top-level named definitions into the
        registries, resolving xs:include / xs:import transitively.  The
        repo's model is namespace-agnostic (prefixes strip via ``_local``
        everywhere), so imported-namespace definitions merge into the same
        flat registries — the same effective lookup XmlSchemaCollection
        gives the reference's walker.  First definition wins (the root
        document shadows included duplicates); include cycles are cut by
        the ``seen`` set.  ``base_dir`` is the directory of THIS document
        when it came from a file: relative schemaLocations resolve against
        it first (CWD-relative kept as a fallback for back-compat), and
        each included file's own directory becomes the base for ITS
        includes."""
        import os

        for ch in doc_root:
            if ch.tag in (_x("include"), _x("import")):
                loc = ch.get("schemaLocation")
                if loc is None or loc in seen:
                    # xs:import without schemaLocation legally relies on
                    # out-of-band knowledge; nothing to fetch
                    continue
                seen.add(loc)
                child_dir = base_dir
                text = resolver.get(loc)
                if text is None:
                    candidates = [loc]
                    if base_dir is not None and not os.path.isabs(loc):
                        candidates.insert(0, os.path.join(base_dir, loc))
                    path = next((p for p in candidates if os.path.exists(p)), None)
                    if path is None:
                        raise ValueError(
                            f"cannot resolve {_local(ch.tag)} schemaLocation "
                            f"{loc!r}: not in the resolver map and not a file "
                            f"(tried {candidates})"
                        )
                    with open(path, encoding="utf-8") as fh:
                        text = fh.read()
                    child_dir = os.path.dirname(os.path.abspath(path))
                elif not text.lstrip().startswith("<"):
                    try:
                        with open(text, encoding="utf-8") as fh:
                            path = text
                            text = fh.read()
                    except OSError as exc:
                        raise ValueError(
                            f"cannot resolve {_local(ch.tag)} schemaLocation "
                            f"{loc!r}: resolver maps it to unreadable file "
                            f"{text!r} ({exc})"
                        ) from exc
                    child_dir = os.path.dirname(os.path.abspath(path))
                self._register(ET.fromstring(text), resolver, seen, base_dir=child_dir)
                continue
            name = ch.get("name")
            if name is None:
                continue
            registry = {
                _x("element"): self.elements,
                _x("complexType"): self.complex_types,
                _x("simpleType"): self.simple_types,
                _x("group"): self.groups,
                _x("attributeGroup"): self.attr_groups,
            }.get(ch.tag)
            if registry is not None:
                registry.setdefault(name, ch)

    # ---------------------------------------------------------------- naming

    def _class_name(self, base: str) -> str:
        if base not in self._used_names:
            self._used_names.add(base)
            return base
        i = 2
        while f"{base}{i}" in self._used_names:
            i += 1
        self._used_names.add(f"{base}{i}")
        return f"{base}{i}"

    # ---------------------------------------------------------------- public

    def type_of(self, root_element: str):
        if root_element not in self.elements:
            raise ValueError(f"There is no root element {root_element!r} in the XSD")
        return self._element_field(self.elements[root_element], Card.REQUIRED).type

    # --------------------------------------------------------------- elements

    def _element_field(self, el: ET.Element, ctx_card: Card) -> XField:
        ref = el.get("ref")
        if ref is not None:
            card = ctx_card.adjust(_particle_card(el))
            target = self.elements.get(_local(ref))
            if target is None:
                raise ValueError(f"unresolvable element ref {ref!r}")
            key = f"element:{_local(ref)}"
            if key in self._built:
                return XField(_local(ref), card, self._built[key], _doc(el))
            f = self._element_field(target, Card.REQUIRED)
            f.card = card
            return f
        name = el.get("name")
        card = ctx_card.adjust(_particle_card(el))
        doc = _doc(el)
        tref = el.get("type")
        key = f"element:{name}" if el in self.elements.values() else None
        if tref is not None:
            xtype = self._type_by_name(tref, name)
        else:
            ct = el.find(_x("complexType"))
            st = el.find(_x("simpleType"))
            if ct is not None:
                xtype = self._complex(ct, name_hint=name, key=key, doc_fallback=doc)
            elif st is not None:
                xtype = self._scalar_from_simple(st, class_name=name)
            else:
                xtype = XScalar("string")  # untyped element: raw text
        default = el.get("default", el.get("fixed"))
        if default is not None and isinstance(xtype, (XScalar, ReadType, XEnum)):
            default = self._parse_default(xtype, default)
        else:
            default = None
        return XField(name, card, xtype, doc, default)

    @staticmethod
    def _parse_default(xtype, raw: str):
        if isinstance(xtype, PrimitiveType):
            if xtype.kind == "boolean":
                return raw in ("true", "1")
            return int(raw) if xtype.kind in ("int", "long") else float(raw)
        return raw

    # ------------------------------------------------------------- complexes

    def _type_by_name(self, qname: str, element_name: str):
        local = _local(qname)
        if local in _BUILTIN_SCALARS:
            return _BUILTIN_SCALARS[local]
        if local in _DECIMAL_FAMILY:
            return _elect_decimal(dict(_DECIMAL_FAMILY[local]))
        if local in self.simple_types:
            return self._scalar_from_simple(self.simple_types[local], class_name=local)
        if local in self.complex_types:
            key = f"type:{local}"
            if key in self._built:
                return self._built[key]
            return self._complex(self.complex_types[local], name_hint=local, key=key)
        raise ValueError(f"Unsupported type reference: {qname!r}")

    def _complex(self, ct: ET.Element, name_hint: str, key: str | None = None,
                 doc_fallback: str | None = None):
        doc = _doc(ct) or doc_fallback
        sc = ct.find(_x("simpleContent"))
        if sc is not None:
            return self._simple_content(sc, name_hint, doc)
        cc = ct.find(_x("complexContent"))
        if cc is not None:
            return self._complex_content(cc, ct, name_hint, key, doc)

        mixed = ct.get("mixed") in ("true", "1")
        attrs = self._attributes(ct)
        if mixed and not attrs:
            # mixed content without attributes coerces to a raw string
            # (TypeBuildingVisitor: shouldNotBeParsed + no attributes)
            return XScalar("string")
        struct = XStruct(self._class_name(name_hint), doc, list(attrs), unparsed=mixed)
        if key:
            self._built[key] = struct
        elem_fields: list[XField] = []
        saw_any = self._walk_particles(ct, Card.REQUIRED, elem_fields)
        if saw_any or mixed:
            # xs:any / mixed: parsed child elements are DISCARDED; the whole
            # content is kept as one optional raw string
            struct.unparsed = True
            struct.fields = list(attrs) + [
                XField("value", Card.OPTIONAL, XScalar("string"), UNPARSED_DOC)
            ]
        else:
            struct.fields = list(attrs) + elem_fields
        return struct

    def _simple_content(self, sc: ET.Element, name_hint: str, doc: str | None):
        ext = sc.find(_x("extension"))
        if ext is None:
            ext = sc.find(_x("restriction"))
        base = ext.get("base")
        scalar, inherited = self._content_scalar(base, name_hint)
        # inherited attributes (base-first along the chain) come ahead of the
        # derived type's own; a re-declared name is overridden in place by
        # the most-derived declaration (reference walker flattens the chain)
        attrs = _merge_attrs(inherited, self._attributes(ext))
        if not attrs:
            return scalar  # scalar element without attributes = plain scalar
        # attributes first, then the tag content as the 'value' field
        # (TypeStructureBuilder.java:84-94 / RecordResolver content routing)
        return XStruct(
            self._class_name(name_hint), doc,
            attrs + [XField("value", Card.REQUIRED, scalar)],
        )

    def _content_scalar(self, base_qname: str, name_hint: str):
        """simpleContent base may be a builtin, a named simpleType, or a
        named complexType with simpleContent (chain). Returns
        (scalar, inherited_attributes): attributes declared anywhere along
        the base chain are accumulated, not dropped."""
        local = _local(base_qname)
        if local in self.complex_types:
            inner = self.complex_types[local].find(_x("simpleContent"))
            if inner is None:
                raise ValueError(
                    f"simpleContent base {base_qname!r} is not simple content"
                )
            ext = inner.find(_x("extension"))
            if ext is None:
                ext = inner.find(_x("restriction"))
            scalar, inherited = self._content_scalar(ext.get("base"), name_hint)
            return scalar, _merge_attrs(inherited, self._attributes(ext))
        return self._type_by_name_scalar(base_qname, name_hint), []

    def _type_by_name_scalar(self, qname: str, class_name: str):
        t = self._type_by_name(qname, class_name)
        if isinstance(t, XStruct):
            raise ValueError(f"{qname!r} is not a scalar type")
        return t

    def _complex_content(self, cc: ET.Element, ct: ET.Element, name_hint: str,
                         key: str | None, doc: str | None):
        ext = cc.find(_x("extension"))
        restr = cc.find(_x("restriction"))
        node = ext if ext is not None else restr
        base_name = _local(node.get("base"))
        # NOTE: mixed on complexContent does not affect the outcome
        # (XsdAnalyzerTest.mixedComplexContentTreatedAsNormal)
        own_attrs = self._attributes(node)
        own_fields: list[XField] = []
        self._walk_particles(node, Card.REQUIRED, own_fields)
        if restr is not None:
            # restriction REDEFINES the content: own fields only
            struct = XStruct(self._class_name(name_hint), doc, own_attrs + own_fields)
            if key:
                self._built[key] = struct
            return struct
        base = self._type_by_name(node.get("base"), base_name)
        if isinstance(base, XStruct):
            base_fields = list(base.fields)
        else:
            # extension of simple-content type: scalar becomes the value field
            base_fields = [XField("value", Card.REQUIRED, base)]
        struct = XStruct(
            self._class_name(name_hint), doc, base_fields + own_attrs + own_fields
        )
        if key:
            self._built[key] = struct
        return struct

    # ---------------------------------------------------------------- groups

    def _walk_particles(self, parent: ET.Element, card: Card, out: list[XField]) -> bool:
        """Walk sequence/choice/all/group-ref particles; returns True when an
        xs:any wildcard was seen (content must stay unparsed)."""
        saw_any = False
        for ch in parent:
            tag = ch.tag
            if tag == _x("element"):
                out.append(self._element_field(ch, card))
            elif tag in (_x("sequence"), _x("all")):
                saw_any |= self._walk_particles(ch, card.adjust(_particle_card(ch)), out)
            elif tag == _x("choice"):
                saw_any |= self._walk_particles(
                    ch, card.adjust(Card.OPTIONAL).adjust(_particle_card(ch)), out
                )
            elif tag == _x("group"):
                g = self.groups.get(_local(ch.get("ref", "")))
                if g is None:
                    raise ValueError(f"unresolvable group ref {ch.get('ref')!r}")
                saw_any |= self._walk_particles(g, card.adjust(_particle_card(ch)), out)
            elif tag == _x("any"):
                saw_any = True
            # annotations/attributes handled elsewhere
        return saw_any

    # ------------------------------------------------------------ attributes

    def _attributes(self, parent: ET.Element) -> list[XField]:
        out: list[XField] = []
        for a in parent.findall(_x("attribute")):
            use = a.get("use", "optional")
            card = Card.REQUIRED if use == "required" else Card.OPTIONAL
            tref = a.get("type")
            if tref is not None:
                xtype = self._type_by_name_scalar(tref, a.get("name"))
            else:
                st = a.find(_x("simpleType"))
                xtype = (
                    self._scalar_from_simple(st, class_name=a.get("name"))
                    if st is not None
                    else XScalar("string")
                )
            # a fixed value is the only one the attribute takes: it is the default
            default = a.get("default", a.get("fixed"))
            if default is not None:
                default = self._parse_default(xtype, default)
            out.append(XField(a.get("name"), card, xtype, _doc(a), default))
        for ag in parent.findall(_x("attributeGroup")):
            g = self.attr_groups.get(_local(ag.get("ref", "")))
            if g is not None:
                out.extend(self._attributes(g))
        return out

    # ---------------------------------------------------------- simple types

    def _scalar_from_simple(self, st: ET.Element, class_name: str):
        facets: dict[str, object] = {}
        node = st
        while True:
            restr = node.find(_x("restriction"))
            if restr is None:
                raise ValueError("only xs:restriction simple types are supported")
            for f in restr:
                fname = f.tag.split("}")[-1]
                if fname == "enumeration":
                    facets.setdefault("enumeration", []).append(f.get("value"))
                elif fname in _FACET_NAMES:
                    facets.setdefault(fname, f.get("value"))
            base = _local(restr.get("base", "string"))
            if base in self.simple_types:
                node = self.simple_types[base]
                continue
            break
        if base in _DECIMAL_FAMILY:
            merged = {**_DECIMAL_FAMILY[base]}
            merged.update({k: v for k, v in facets.items() if k != "enumeration"})
            return _elect_decimal(merged)
        terminal = _BUILTIN_SCALARS.get(base)
        if terminal is None:
            raise ValueError(f"Unsupported simple type base {base!r}")
        if terminal == XScalar("string") and "enumeration" in facets:
            return XEnum(self._class_name(class_name), tuple(facets["enumeration"]))
        return terminal


# --------------------------------------------------------------- converters


def to_read_type(xt) -> ReadType:
    """Avro election parity with the datamodel's toSchema()
    (FixedType.java:30-137, DecimalType.java:86-95, StructType.java:92-108)."""
    return _to_read(xt, {})


def _to_read(xt, seen: dict[int, ReadType]) -> ReadType:
    if id(xt) in seen:
        return seen[id(xt)]
    if isinstance(xt, ReadType):
        return xt
    if isinstance(xt, XScalar):
        return {
            "date": LogicalType("date"),
            "datetime": LogicalType("timestamp-millis"),
            "time": LogicalType("time-millis"),
            "string": PrimitiveType("string"),
            "binary_hex": PrimitiveType("bytes"),
            "binary_base64": PrimitiveType("bytes"),
        }[xt.kind]
    if isinstance(xt, XEnum):
        return EnumType(xt.name, xt.symbols)
    if isinstance(xt, XStruct):
        rec = RecordType(xt.name, (), xt.doc)
        seen[id(xt)] = rec
        fields = []
        for f in xt.fields:
            ftype = _to_read(f.type, seen)
            if f.card == Card.MULTIPLE:
                fields.append(Field(f.name, ArrayType(ftype), default=[], doc=f.doc))
            elif f.card == Card.OPTIONAL:
                fields.append(
                    Field(f.name, ftype, nullable=True,
                          default=f.default if f.default is not None else None,
                          doc=f.doc)
                )
            else:
                fields.append(
                    Field(f.name, ftype,
                          default=f.default if f.default is not None else ...,
                          doc=f.doc)
                )
        object.__setattr__(rec, "fields", tuple(fields))
        return rec
    raise ValueError(f"unmapped XSD type {xt!r}")


def to_write_type(xt) -> "object":
    """XSD type tree -> annotated WriteType (declared write schema for
    SchemaResolver: string formats/encodings, enum symbols; a number's
    dtype is that of its elected type)."""
    from avro_conversions_spark.schema.resolution import WriteType

    def build(t, card: Card, seen: dict[int, object]) -> "WriteType":
        if isinstance(t, XStruct):
            if id(t) in seen:
                raise ValueError("recursive write schemas cannot map to flat columns")
            seen = {**seen, id(t): True}
        nullable = card == Card.OPTIONAL
        if isinstance(t, XScalar):
            meta = {
                "date": {"format": "date"},
                "datetime": {"format": "date-time"},
                "time": {"format": "time"},
                "binary_hex": {"content_encoding": "base16"},
                "binary_base64": {"content_encoding": "base64"},
            }.get(t.kind, {})
            wt = WriteType(T.StringType(), nullable, **meta)
        elif isinstance(t, ReadType):
            wt = WriteType(to_spark_type(t), nullable)
        elif isinstance(t, XEnum):
            wt = WriteType(T.StringType(), nullable, symbols=t.symbols)
        elif isinstance(t, XStruct):
            wt = WriteType(
                T.StructType(), nullable,
                fields={f.name: build(f.type, f.card, seen) for f in t.fields},
            )
        else:
            raise ValueError(f"unmapped XSD type {t!r}")
        if card == Card.MULTIPLE:
            return WriteType(T.ArrayType(T.StringType()), False, items=wt)
        return wt

    return build(xt, Card.REQUIRED, {})


def xsd_to_write_type(source: str, root_element: str, resolver: dict[str, str] | None = None):
    return to_write_type(XsdAnalyzer(source, resolver).type_of(root_element))


def infer_read_schema_from_xsd(
    source: str, root_element: str, resolver: dict[str, str] | None = None
) -> ReadType:
    return to_read_type(XsdAnalyzer(source, resolver).type_of(root_element))
