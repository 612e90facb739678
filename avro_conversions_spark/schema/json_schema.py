"""JSON-Schema ingestion: declared write schemas for the validation engine.

Ports the reference's SchemaAnalyzer semantics (drivers-side, plan-time):

- document walk across drafts 4/6/7/2019-09/2020-12 with version-gated
  keywords (json/SchemaAnalyzer.java:247-334, 484-507);
- the schema lattice: INTERSECT (allOf, 2020-12 $ref) / UNION
  (anyOf/oneOf/dependentSchemas/if-then-else, array item schemata) over
  types, required sets, properties, enum sets and number ranges
  (json/SchemaAnalyzer.java:405-470);
- number ranges with open bounds and their Avro-type election, shared
  with XSD and observed data: ``model.NumberRange`` and ``model.elect``
  (util/DecimalRange.java; json/SchemaAnalyzer.java:177-207);
- title inference from $defs/definitions pointers
  (json/SchemaAnalyzer.java:51-55, 336-346).

Outputs:
- ``load_json_schema``   -> SchemaProps tree (lattice-combined facts);
- ``infer_read_schema``  -> ReadType (the JSON-Schema -> Avro inference);
- ``to_write_type``      -> WriteType (declared write schema + annotations
  for SchemaResolver — formats, encodings, enum symbols, numeric ranges —
  so users no longer hand-build them).

Only local documents and internal ``#/...`` JSON-Pointer $refs are
resolved — no network access, by design.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from decimal import Decimal

from pyspark.sql import types as T

from avro_conversions_spark.schema.model import (
    ArrayType,
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


class AnalysisFailure(Exception):
    """The JSON schema cannot be analysed (reference: AnalysisFailure)."""


# draft ordinals (SchemaAnalyzer.java:484-507)
D3, D4, D6, D7, D2019, D2020 = 0, 1, 2, 3, 4, 5
_VERSIONS = {
    "http://json-schema.org/draft-03/schema#": D3,
    "https://json-schema.org/draft-03/schema#": D3,
    "http://json-schema.org/draft-04/schema#": D4,
    "https://json-schema.org/draft-04/schema#": D4,
    "http://json-schema.org/draft-06/schema#": D6,
    "https://json-schema.org/draft-06/schema#": D6,
    "http://json-schema.org/draft-07/schema#": D7,
    "https://json-schema.org/draft-07/schema#": D7,
    "https://json-schema.org/draft/2019-09/schema": D2019,
    "https://json-schema.org/draft/2020-12/schema": D2020,
}

_TYPE_ORDER = ["object", "array", "string", "integer", "number", "boolean", "null"]

# title inference (SchemaAnalyzer.java:51-55): identifier after
# $defs/definitions (with optional combiner suffix), else last identifier
_IDENT = r"[A-Za-z_$][A-Za-z0-9_$]*"
_NAME_IN_REFERENCE = re.compile(
    rf".*#/(?:\$defs|definitions).*?/({_IDENT})"
    r"(?:/(?:allOf|anyOf|oneOf)/\d+|dependentRequired/[^/]+"
    r"|if|then|else|prefixItems|items|additionalItems|contains)?$"
)
_NAME_FROM_ANY_ID = re.compile(rf".*/({_IDENT})$")


# --------------------------------------------------------------------- props


@dataclass
class SchemaProps:
    """Facts gathered about one JSON (sub)schema — the analogue of
    json/SchemaProperties.java (mutable: the lattice combines in place)."""

    allow_zero_fraction: bool = True  # draft >= 6 (SchemaProperties.java:19)
    types: set[str] | None = None
    title: str | None = None
    inferred_title: str | None = None
    description: str | None = None
    default: str | None = None
    format: str | None = None
    content_encoding: str | None = None
    enum_values: list[str] | None = None  # insertion-ordered
    number_range: NumberRange = field(default_factory=NumberRange)
    item_props: "SchemaProps | None" = None
    required: list[str] = field(default_factory=list)  # insertion-ordered
    properties: dict[str, "SchemaProps"] = field(default_factory=dict)

    def effective_title(self) -> str | None:
        return self.title if self.title is not None else self.inferred_title

    def is_nullable(self) -> bool:
        return self.types is not None and "null" in self.types

    def get_type(self) -> str | None:
        """Most prominent non-null type (SchemaProperties.java:101-106,
        EnumSet declaration order)."""
        if not self.types:
            return None
        for t in _TYPE_ORDER[:-1]:
            if t in self.types:
                return t
        return None

    def is_integer_number_range(self) -> bool:
        return self.number_range.is_integer_range(self.allow_zero_fraction)


def _first(*vals):
    for v in vals:
        if v is not None:
            return v
    return None


def combine(kind: str, cur: SchemaProps, extra: SchemaProps) -> SchemaProps:
    """The lattice (SchemaAnalyzer.java:405-470): kind = 'intersect'
    (allOf) or 'union' (anyOf/oneOf/...). Mutates and returns ``cur``."""
    if cur.types is None:
        cur.types = None if extra.types is None else set(extra.types)
        to_copy = set(extra.types or ())
    elif kind == "intersect":
        cur.types &= extra.types or set()
        to_copy = set(cur.types)
    else:
        cur.types |= extra.types or set()
        to_copy = set(extra.types or ())

    if "object" in to_copy:
        if kind == "intersect":
            for r in extra.required:
                if r not in cur.required:
                    cur.required.append(r)
        else:
            cur.required = [r for r in cur.required if r in extra.required]
        for name, props in extra.properties.items():
            if name not in cur.properties:
                cur.properties[name] = props
            else:
                combine(kind, cur.properties[name], props)
    if "array" in to_copy:
        if cur.item_props is None:
            cur.item_props = extra.item_props
        elif extra.item_props is not None:
            combine(kind, cur.item_props, extra.item_props)
    if "string" in to_copy:
        cur.format = _first(cur.format, extra.format)
        cur.content_encoding = _first(cur.content_encoding, extra.content_encoding)
        if kind == "intersect":
            if cur.enum_values is None:
                cur.enum_values = extra.enum_values
            elif extra.enum_values is not None:
                cur.enum_values = [v for v in cur.enum_values if v in extra.enum_values]
        else:
            if extra.enum_values is None:
                cur.enum_values = None
            elif cur.enum_values is not None:
                for v in extra.enum_values:
                    if v not in cur.enum_values:
                        cur.enum_values.append(v)
    if "integer" in to_copy or "number" in to_copy:
        if kind == "intersect":
            cur.number_range = cur.number_range.restrict_to(extra.number_range)
        else:
            cur.number_range = cur.number_range.extend_with(extra.number_range)

    cur.title = _first(cur.title, extra.title)
    cur.description = _first(cur.description, extra.description)
    cur.default = _first(cur.default, extra.default)
    return cur


# ---------------------------------------------------------------------- walk


def _jstr(v) -> str:
    """Java String.valueOf-ish stringification (SchemaProperties.java:262)."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return v
    if isinstance(v, (list, dict)):
        return _json_text(v)
    return str(v)


def _json_text(v) -> str:
    """JSON text of a list or dict default/const, keys joined by ``=``;
    a ``Decimal`` renders as written, so nested numbers keep every digit
    just as a scalar one does."""
    if isinstance(v, list):
        return "[" + ", ".join(map(_json_text, v)) + "]"
    if isinstance(v, dict):
        return "{" + ", ".join(f"{json.dumps(k)}={_json_text(x)}" for k, x in v.items()) + "}"
    return str(v) if isinstance(v, Decimal) else json.dumps(v)


def _dec(v) -> Decimal | None:
    return None if v is None else Decimal(str(v))


# the JSON type each keyword the walk reads must have
_NUMBER = (int, float, Decimal)
_KEYWORD_TYPES = {
    "$ref": str, "type": (str, list), "minimum": _NUMBER, "maximum": _NUMBER,
    "enum": list, "required": list, "properties": dict,
    "allOf": list, "anyOf": list, "oneOf": list,
}


class _Analyzer:
    def __init__(self, root: dict, version: int):
        self.root = root
        self.version = version
        self.memo: dict[str, SchemaProps] = {}
        # draft 4 writes exclusive bounds as flags, later drafts as numbers
        excl = bool if version < D6 else _NUMBER
        self.keyword_types = {**_KEYWORD_TYPES, "exclusiveMinimum": excl, "exclusiveMaximum": excl}

    def _resolve(self, pointer: str):
        if not pointer.startswith("#"):
            raise AnalysisFailure(f"only document-local $refs supported: {pointer!r}")
        node = self.root
        for part in pointer.lstrip("#").strip("/").split("/"):
            if not part:
                continue
            part = part.replace("~1", "/").replace("~0", "~")
            try:
                node = node[int(part)] if isinstance(node, list) else node[part]
            except (KeyError, IndexError, ValueError, TypeError) as e:
                raise AnalysisFailure(f"unresolvable $ref {pointer!r}") from e
        return node

    def _infer_title(self, *pointers: str) -> str | None:
        for p in pointers:
            if p is None:
                continue
            for rx in (_NAME_IN_REFERENCE, _NAME_FROM_ANY_ID):
                m = rx.match(p)
                if m:
                    return m.group(1)
        return None

    def walk(self, node, pointer: str) -> SchemaProps:
        if isinstance(node, bool):  # boolean schema (draft >= 6)
            node = {}
        if not isinstance(node, dict):
            raise AnalysisFailure(f"schema node at {pointer!r} is not an object")
        for key, kinds in self.keyword_types.items():
            v = node.get(key)
            malformed = not isinstance(v, kinds) or isinstance(v, bool) and kinds is not bool
            if key in node and malformed:
                raise AnalysisFailure(f"malformed {key!r} at {pointer!r}: {v!r}")
        # $ref handling: a PURE $ref node (no sibling keywords beyond
        # comments) is identical to its target — same props object, so
        # recursion (droste) terminates as an identity cycle. Pre-2020
        # drafts additionally ignore siblings entirely (spec semantics).
        ref = node.get("$ref")
        pure_ref = ref is not None and not (
            set(node) - {"$ref", "$comment", "$comments"}
        )
        if ref is not None and (pure_ref or self.version < D2020):
            if pointer in self.memo:
                return self.memo[pointer]
            if ref in self.memo:
                out = self.memo[ref]
            else:
                out = self.walk(self._resolve(ref), ref)
            self.memo[pointer] = out
            return out
        if pointer in self.memo:
            return self.memo[pointer]
        props = SchemaProps(allow_zero_fraction=self.version >= D6)
        self.memo[pointer] = props

        expl = node.get("type")
        if expl is not None:
            types = set([expl] if isinstance(expl, str) else expl)
            bad = types - set(_TYPE_ORDER)
            if bad:
                raise AnalysisFailure(f"unknown JSON-Schema type(s) {sorted(bad)!r}")
            props.types = types

        # a $ref beside other keywords names the type they refine
        props.inferred_title = self._infer_title(node.get("$ref"), pointer)
        props.title = node.get("title")
        props.description = node.get("description")
        if "default" in node and node["default"] is not None:
            props.default = _jstr(node["default"])
        props.format = node.get("format")
        if self.version >= D7:
            props.content_encoding = node.get("contentEncoding")

        # number range (SchemaAnalyzer.java:348-363)
        mn, mx = _dec(node.get("minimum")), _dec(node.get("maximum"))
        if self.version >= D6:
            emn, emx = _dec(node.get("exclusiveMinimum")), _dec(node.get("exclusiveMaximum"))
            props.number_range = NumberRange(
                mn if mn is not None else emn, mn is not None,
                mx if mx is not None else emx, mx is not None,
            )
        else:
            props.number_range = NumberRange(
                mn, mn is not None and not node.get("exclusiveMinimum", False),
                mx, mx is not None and not node.get("exclusiveMaximum", False),
            )

        # enum values; from draft 6 a const INTERSECTs them
        # (SchemaAnalyzer.java:365-373)
        if "enum" in node:
            props.enum_values = list(dict.fromkeys(map(_jstr, node["enum"])))
        if "const" in node and self.version >= D6:
            c = _jstr(node["const"])
            ev = props.enum_values
            props.enum_values = [c] if ev is None or c in ev else []

        props.item_props = self._item_schema(node, pointer)

        props.required = list(dict.fromkeys(node.get("required", ())))
        for name, sub in (node.get("properties") or {}).items():
            props.properties[name] = self.walk(sub, f"{pointer}/properties/{name}")

        # optional schemas -> UNION; then INTERSECT into current
        optional: list[SchemaProps] = []
        for key in ("anyOf", "oneOf"):
            for i, sub in enumerate(node.get(key) or ()):
                optional.append(self.walk(sub, f"{pointer}/{key}/{i}"))
        deps = node.get("dependentSchemas") or {
            k: v for k, v in (node.get("dependencies") or {}).items() if isinstance(v, dict)
        }
        for k, sub in deps.items():
            optional.append(self.walk(sub, f"{pointer}/dependentSchemas/{k}"))
        if self.version >= D7:
            for key in ("if", "then", "else"):
                if isinstance(node.get(key), (dict, bool)):
                    optional.append(self.walk(node[key], f"{pointer}/{key}"))

        required_schemas: list[SchemaProps] = []
        if ref is not None and self.version >= D2020:
            required_schemas.append(self.walk(self._resolve(ref), ref))
        if optional:
            merged = optional[0]
            for o in optional[1:]:
                merged = combine("union", merged, o)
            required_schemas.append(merged)
        for i, sub in enumerate(node.get("allOf") or ()):
            required_schemas.append(self.walk(sub, f"{pointer}/allOf/{i}"))
        for other in required_schemas:
            try:
                combine("intersect", props, other)
            except ValueError as e:  # number ranges that do not overlap
                raise AnalysisFailure(f"{e} at {pointer!r}") from e

        # infer additionally allowed types (SchemaAnalyzer.java:311-331)
        if props.properties:
            props.types = (props.types or set()) | {"object"}
        if props.item_props is not None:
            props.types = (props.types or set()) | {"array"}
        if _first(props.format, props.content_encoding) is not None or props.enum_values is not None:
            props.types = (props.types or set()) | {"string"}
        if props.number_range.lo is not None or props.number_range.hi is not None:
            props.types = (props.types or set()) | {"number"}
            if props.is_integer_number_range():
                props.types |= {"integer"}
        if props.types is None:
            props.types = set(_TYPE_ORDER)
        return props

    def _item_schema(self, node: dict, pointer: str) -> SchemaProps | None:
        """Array item schemata union (SchemaAnalyzer.java:375-403)."""
        cands: list[tuple[object, str]] = []
        items = node.get("items")
        if isinstance(items, (dict, bool)):
            cands.append((items, f"{pointer}/items"))
        elif isinstance(items, list):
            cands += [(s, f"{pointer}/items/{i}") for i, s in enumerate(items)]
        if self.version >= D2020:
            cands += [
                (s, f"{pointer}/prefixItems/{i}")
                for i, s in enumerate(node.get("prefixItems") or ())
            ]
        elif not isinstance(items, (dict, bool)) and isinstance(
            node.get("additionalItems"), (dict, bool)
        ):
            cands.append((node["additionalItems"], f"{pointer}/additionalItems"))
        if self.version >= D6 and isinstance(node.get("contains"), (dict, bool)):
            cands.append((node["contains"], f"{pointer}/contains"))
        if self.version >= D2019 and isinstance(node.get("unevaluatedItems"), (dict, bool)):
            cands.append((node["unevaluatedItems"], f"{pointer}/unevaluatedItems"))
        merged: SchemaProps | None = None
        for sub, ptr in cands:
            sp = self.walk(sub, ptr)
            merged = sp if merged is None else combine("union", merged, sp)
        return merged


def load_json_schema(source: str | dict) -> SchemaProps:
    """Load + analyse a JSON Schema document (dict, JSON text, or file
    path). Reference entry point: SchemaAnalyzer.parseJsonProperties.

    JSON text and files parse fractions as ``Decimal``, so a bound keeps
    every digit it is written with (util/DecimalRange.java uses
    BigDecimal): ``99999999999.999999`` stays decimal(17,6) instead of
    rounding to the integral float ``100000000000.0``. A dict caller has
    already parsed its numbers; to keep fractional bounds exact, build the
    dict with ``json.loads(text, parse_float=Decimal)``. Integer bounds are
    exact either way (``benchmark/inputs.TURN_SCHEMA`` has only those)."""
    if isinstance(source, str):
        s = source.strip()
        if s.startswith("{"):
            try:
                source = json.loads(s, parse_float=Decimal)
            except json.JSONDecodeError as e:
                raise AnalysisFailure("Failed to load the JSON schema") from e
        else:
            try:
                with open(source, encoding="utf-8") as fh:
                    source = json.load(fh, parse_float=Decimal)
            except (OSError, json.JSONDecodeError) as e:
                raise AnalysisFailure("Failed to load the JSON schema") from e
    if not isinstance(source, dict):
        raise AnalysisFailure("JSON schema must be an object")
    version = _VERSIONS.get(str(source.get("$schema", "")), D7)
    return _Analyzer(source, version).walk(source, "#")


# ------------------------------------------------------------------ election


def infer_read_schema(source: str | dict | SchemaProps) -> tuple[ReadType, bool]:
    """JSON Schema -> (ReadType, nullable): the reference's
    parseJsonSchema/asAvroSchema election (SchemaAnalyzer.java:80-220)."""
    props = source if isinstance(source, SchemaProps) else load_json_schema(source)
    return _as_read_type(props, {})


def _effective_types(props: SchemaProps) -> set[str]:
    types = set(props.types or ())
    if not props.properties:
        types.discard("object")
    if props.item_props is None:
        types.discard("array")
    if not props.is_integer_number_range():
        types.discard("integer")
    return types


def _elected(props: SchemaProps) -> str:
    types = _effective_types(props)
    for t in _TYPE_ORDER[:-1]:
        if t in types:
            return t
    raise ValueError(f"Invalid type definition: no applicable types for {props.effective_title()!r}")


def _parse_default(raw: str | None, rt: ReadType):
    if raw is None:
        return ...
    if isinstance(rt, PrimitiveType):
        if rt.kind in ("int", "long"):
            return int(raw)
        if rt.kind in ("float", "double"):
            return float(raw)
        if rt.kind == "boolean":
            return raw.lower() == "true"
    return raw


def _as_read_type(props: SchemaProps, seen: dict[int, ReadType]) -> tuple[ReadType, bool]:
    if id(props) in seen:
        return seen[id(props)], props.is_nullable()
    t = _elected(props)
    nullable = props.is_nullable()
    if t == "object":
        name = props.effective_title()
        if name is None:
            raise ValueError("Object types require a name")
        rec = RecordType(name, (), props.description)
        seen[id(props)] = rec
        fields = []
        for fname, fprops in props.properties.items():
            ftype, fnullable = _as_read_type(fprops, seen)
            optional = fnullable or fname not in props.required
            default = _parse_default(fprops.default, ftype)
            if optional and default is ...:
                default = None
            fields.append(
                Field(fname, ftype, nullable=optional, default=default, doc=fprops.description)
            )
        object.__setattr__(rec, "fields", tuple(fields))
        return rec, nullable
    if t == "array":
        items, items_nullable = _as_read_type(props.item_props, seen)
        return ArrayType(items, items_nullable), nullable
    if t == "string":
        if props.enum_values is not None:
            name = props.effective_title()
            if name is None:
                raise ValueError("Enum types require a name")
            return EnumType(name, tuple(props.enum_values), props.default), nullable
        if props.format == "date":
            return LogicalType("date"), nullable
        if props.format == "time":
            return LogicalType("time-millis"), nullable
        if props.format == "date-time":
            return LogicalType("timestamp-millis"), nullable
        if props.content_encoding in ("base16", "base64"):
            return PrimitiveType("bytes"), nullable
        return PrimitiveType("string"), nullable
    if t in ("integer", "number"):
        return elect(props.number_range, t == "integer"), nullable
    return PrimitiveType("boolean"), nullable


# ---------------------------------------------------------------- write type


def to_write_type(source: str | dict | SchemaProps) -> "object":
    """JSON Schema -> WriteType tree for SchemaResolver: the declared write
    schema path (reference constructor json/JsonAsAvroParser.java:104-118).
    Formats, content encodings, enum symbols and numeric bounds become
    WriteType annotations automatically."""
    from avro_conversions_spark.schema.resolution import WriteType

    props = source if isinstance(source, SchemaProps) else load_json_schema(source)

    def build(p: SchemaProps, seen: dict[int, object]) -> "WriteType":
        if id(p) in seen:
            raise AnalysisFailure(
                "recursive write schemas cannot map to a flat column tree"
            )
        seen = {**seen, id(p): True}
        t = _elected(p)
        nullable = p.is_nullable()
        if t == "object":
            return WriteType(
                T.StructType(), nullable,
                fields={
                    name: _nullable_unless_required(build(fp, seen), name, p)
                    for name, fp in p.properties.items()
                },
            )
        if t == "array":
            return WriteType(T.ArrayType(T.StringType()), nullable, items=build(p.item_props, seen))
        if t == "string":
            return WriteType(
                T.StringType(), nullable,
                format=p.format,
                content_encoding=p.content_encoding,
                symbols=tuple(p.enum_values) if p.enum_values is not None else None,
            )
        if t in ("integer", "number"):
            dtype = to_spark_type(elect(p.number_range, t == "integer"))
            return WriteType(dtype, nullable, range=p.number_range)
        return WriteType(T.BooleanType(), nullable)

    def _nullable_unless_required(wt: "WriteType", name: str, parent: SchemaProps):
        from dataclasses import replace

        return replace(wt, nullable=wt.nullable or name not in parent.required)

    return build(props, {})
