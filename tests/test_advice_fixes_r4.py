"""Round-4 regression tests: every VERDICT r3 'next round' item and every
ADVICE r3 finding gets a pinned behavior here.

- decimal exactness at HIGH precision (the wide-cast compare degenerated
  when p - s > 20; now pure textual digit arithmetic at any (p, s))
- date/timestamp converters without regex guards keep full strictness
- kgram_hashes length cap with a visible ``truncated`` flag
- _raw_subtree escapes regex metacharacters in element names
- q_stream_drift_events / q_drift_events leak no temp dirs
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F


SF001 = "/root/testdata/sf0.01"


# ---------------------------------------------------------------- decimal


@pytest.mark.parametrize(
    "value,p,s,expected",
    [
        # ADVICE r3 case: at p=38, s=10 the old wide scale equalled s and
        # ANY castable string passed — 11 fraction digits must now flag
        ("1.23456789015", 38, 10, False),
        ("1.2345678901", 38, 10, True),
        # guard digits silently shrank whenever p - s > 20
        ("1.234567", 30, 5, False),
        ("99999999999999999999999999.999999999999", 38, 12, True),
        ("999999999999999999999999999.999999999999", 38, 12, False),
        # exponent beyond long range must be invalid, not treated as 0
        ("1e99999999999999999999", 38, 0, False),
        # trailing zeros across int/frac/exponent forms stay exact
        ("12300e-2", 5, 2, True),
        ("1.2300e2", 5, 2, True),
        ("0.00123e5", 5, 2, True),
        # zero in exotic renderings
        ("0.00", 2, 2, True),
        ("0e5", 2, 1, True),
        # BigDecimal(String) rejects whitespace — so do we now
        (" 1.23", 5, 2, False),
    ],
)
def test_decimal_textual_exactness_high_precision(spark, value, p, s, expected):
    from avro_conversions_spark.schema.resolution import decimal_roundtrip_ok

    df = spark.createDataFrame([(value,)], "v string")
    got = df.select(
        decimal_roundtrip_ok(F.col("v"), p, s, from_string=True).alias("ok")
    ).collect()[0].ok
    assert got is expected


# ------------------------------------------------------- date / timestamp


def test_date_conv_strict_without_regex_guard(spark):
    """VERDICT r3 #2: the rlike guard is gone; try_to_date alone must keep
    the exact strictness the regex provided."""
    from avro_conversions_spark.schema.model import LogicalType
    from avro_conversions_spark.schema.resolution import SchemaResolver, WriteType
    from pyspark.sql import types as T

    conv = SchemaResolver(strict_nullability=False).resolve(
        WriteType(T.StringType(), format="date"), LogicalType("date")
    )
    bad = ["2021-1-1", "2021-13-01", "2021-02-30", "not-a-date",
           " 2021-01-01", "2021-01-01x", "21-01-01", "+2021-01-01"]
    df = spark.createDataFrame([(v,) for v in bad + ["2021-01-01"]], "v string")
    out = df.select(
        "v",
        conv.convert(F.col("v")).alias("d"),
        conv.violation(F.col("v")).alias("viol"),
    ).collect()
    by_v = {r.v: (r.d, r.viol) for r in out}
    for v in bad:
        assert by_v[v][0] is None and by_v[v][1] is True, v
    assert str(by_v["2021-01-01"][0]) == "2021-01-01"
    assert by_v["2021-01-01"][1] is False


def test_timestamp_conv_strict_without_regex_guard(spark):
    from avro_conversions_spark.schema.model import LogicalType
    from avro_conversions_spark.schema.resolution import SchemaResolver, WriteType
    from pyspark.sql import types as T

    conv = SchemaResolver(strict_nullability=False).resolve(
        WriteType(T.StringType(), format="date-time"), LogicalType("timestamp-micros")
    )
    bad = ["2021-01-01", "2021-1-1 0:0:0", "2021-01-01T10:11", "not-a-ts",
           " 2021-01-01T10:11:12", "2021-01-01T25:00:00"]
    good = ["2021-01-01T10:11:12", "2021-01-01 10:11:12",
            "2021-01-01T10:11:12.123456", "2021-01-01T10:11:12Z",
            "2021-01-01T10:11:12+05:30"]
    df = spark.createDataFrame([(v,) for v in bad + good], "v string")
    out = df.select(
        "v",
        conv.convert(F.col("v")).alias("ts"),
        conv.violation(F.col("v")).alias("viol"),
    ).collect()
    by_v = {r.v: (r.ts, r.viol) for r in out}
    for v in bad:
        assert by_v[v][0] is None and by_v[v][1] is True, v
    for v in good:
        assert by_v[v][0] is not None and by_v[v][1] is False, v


def test_resolver_hot_path_has_no_date_regex(spark):
    """The compiled date conversion plan must not contain an RLike node —
    the round-3 measurement (BENCH/BASELINE.md: ~16 µs/row, serializes the
    job) is the why."""
    from avro_conversions_spark.schema.model import LogicalType
    from avro_conversions_spark.schema.resolution import SchemaResolver, WriteType
    from pyspark.sql import types as T

    conv = SchemaResolver(strict_nullability=False).resolve(
        WriteType(T.StringType(), format="date"), LogicalType("date")
    )
    df = spark.createDataFrame([("2021-01-01",)], "v string")
    plan = df.select(conv.convert(F.col("v")).alias("d"))._jdf.queryExecution().analyzed().toString()
    assert "rlike" not in plan.lower()


# ------------------------------------------------------------ kgram cap


def test_kgram_hashes_capped_with_visible_flag(spark):
    """VERDICT r3 #3: a multi-MB document must not materialize an O(len)
    row array; the cap must be visible via kgram_truncated."""
    from avro_conversions_spark.functions.text import (
        KGRAM_MAX_LEN,
        kgram_hashes,
        kgram_truncated,
    )

    long_len = KGRAM_MAX_LEN + 50_000
    df = spark.createDataFrame([(1,), (2,)], "doc_id int").select(
        "doc_id",
        F.when(F.col("doc_id") == 1, F.repeat(F.lit("ab"), long_len // 2)).otherwise(
            F.lit("short text")
        ).alias("text"),
    )
    out = df.select(
        "doc_id",
        F.size(kgram_hashes(F.col("text"), k=8)).alias("n_grams"),
        kgram_truncated(F.col("text")).alias("truncated"),
    ).collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].n_grams == KGRAM_MAX_LEN - 8 + 1  # bounded, not O(len)
    assert by_id[1].truncated is True
    assert by_id[2].n_grams == len("short text") - 8 + 1
    assert by_id[2].truncated is False


def test_kgram_prefix_hashes_unchanged_by_cap(spark):
    """Hashes over the first max_len chars are identical whether or not the
    document overflows — the cap only truncates, never shifts."""
    from avro_conversions_spark.functions.text import kgram_hashes

    df = spark.createDataFrame([("abcdefghijklmnop",)], "text string")
    full = df.select(kgram_hashes(F.col("text"), k=8).alias("g")).collect()[0].g
    capped = df.select(
        kgram_hashes(F.col("text"), k=8, max_len=12).alias("g")
    ).collect()[0].g
    assert capped == full[: 12 - 8 + 1]


# ------------------------------------------------------- XML raw subtree


_DOTTED_XSD = """
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="envelope">
    <xs:complexType>
      <xs:sequence>
        <xs:element name="payXload" type="xs:string" minOccurs="0"/>
        <xs:element name="pay.load" minOccurs="0">
          <xs:complexType mixed="true">
            <xs:sequence>
              <xs:any minOccurs="0" processContents="lax"/>
            </xs:sequence>
          </xs:complexType>
        </xs:element>
      </xs:sequence>
    </xs:complexType>
  </xs:element>
</xs:schema>
"""


def test_raw_subtree_tag_with_regex_metachars(spark):
    """ADVICE r3: element names may legally contain '.'; unescaped, the
    extraction pattern '<pay.load>' also matches '<payXload>' (which comes
    FIRST in the document) and re-assembles the wrong subtree."""
    from avro_conversions_spark.sources.documents import parse_xml_with_xsd

    xml = (
        "<envelope><payXload>WRONG</payXload>"
        "<pay.load><k>RIGHT</k></pay.load></envelope>"
    )
    df = spark.createDataFrame([(xml,)], "xml string")
    row = parse_xml_with_xsd(df, "xml", _DOTTED_XSD, "envelope").collect()[0]
    raw = row["pay.load"]
    assert "RIGHT" in raw and "WRONG" not in raw


# ------------------------------------------------------------- temp dirs


def _tmp_count(pattern: str) -> int:
    return len(glob.glob(os.path.join("/tmp", pattern)))


def test_drift_queries_leak_no_temp_dirs(spark):
    """ADVICE r3: q_stream_drift_events removed only its checkpoint dir,
    leaking baseline/data dirs under /tmp per bench/correctness run."""
    from avro_conversions_spark.operators.queries import (
        q_drift_events,
        q_stream_drift_events,
    )

    before = {
        p: _tmp_count(p)
        for p in ("acs_sdrift_base_*", "acs_sdrift_data_*", "acs_sdrift_ckpt_*",
                  "acs_drift_base_*")
    }
    q_stream_drift_events(spark, SF001).collect()
    q_drift_events(spark, SF001).collect()
    after = {p: _tmp_count(p) for p in before}
    assert after == before


# ------------------------------------------------- XSD include / import


_COMMON_XSD = """
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema"
           targetNamespace="urn:acme:order">
  <xs:simpleType name="StatusType">
    <xs:restriction base="xs:string">
      <xs:enumeration value="NEW"/>
      <xs:enumeration value="SHIPPED"/>
    </xs:restriction>
  </xs:simpleType>
  <xs:complexType name="AddressType">
    <xs:sequence>
      <xs:element name="city" type="xs:string"/>
      <xs:element name="zip" type="xs:string" minOccurs="0"/>
    </xs:sequence>
  </xs:complexType>
</xs:schema>
"""

_VENDOR_XSD = """
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema"
           targetNamespace="urn:acme:vendor">
  <xs:complexType name="VendorType">
    <xs:sequence>
      <xs:element name="vendorName" type="xs:string"/>
    </xs:sequence>
  </xs:complexType>
</xs:schema>
"""

_MAIN_XSD = """
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema"
           xmlns:v="urn:acme:vendor"
           targetNamespace="urn:acme:order">
  <xs:include schemaLocation="common.xsd"/>
  <xs:import namespace="urn:acme:vendor" schemaLocation="vendor.xsd"/>
  <xs:element name="order">
    <xs:complexType>
      <xs:sequence>
        <xs:element name="status" type="StatusType"/>
        <xs:element name="shipTo" type="AddressType"/>
        <xs:element name="vendor" type="v:VendorType" minOccurs="0"/>
      </xs:sequence>
    </xs:complexType>
  </xs:element>
</xs:schema>
"""

_RESOLVER = {"common.xsd": _COMMON_XSD, "vendor.xsd": _VENDOR_XSD}


def test_xsd_include_and_import_resolve_types():
    """VERDICT r3 #4: multi-file XSDs (xs:include same-namespace +
    xs:import cross-namespace) resolve through a {systemId: document}
    map, mirroring XmlSchemaCollection (xml/XsdAnalyzer.java:57)."""
    from avro_conversions_spark.schema.xsd import Card, XsdAnalyzer, XStruct

    xt = XsdAnalyzer(_MAIN_XSD, _RESOLVER).type_of("order")
    assert isinstance(xt, XStruct)
    by_name = {f.name: f for f in xt.fields}
    assert set(by_name) == {"status", "shipTo", "vendor"}
    # included enum
    assert tuple(by_name["status"].type.symbols) == ("NEW", "SHIPPED")
    # included complex type
    ship = by_name["shipTo"].type
    assert {f.name for f in ship.fields} == {"city", "zip"}
    # imported (cross-namespace) complex type
    vend = by_name["vendor"].type
    assert by_name["vendor"].card == Card.OPTIONAL
    assert [f.name for f in vend.fields] == ["vendorName"]


def test_xsd_multifile_resolves_against_avsc(spark):
    """The multi-file schema drives the full parse path against a declared
    .avsc read schema — the reference's end-to-end usage."""
    from avro_conversions_spark.schema import from_avsc
    from avro_conversions_spark.sources.documents import parse_xml_with_xsd

    avsc = """
    {"type": "record", "name": "order", "fields": [
      {"name": "status", "type": {"type": "enum", "name": "Status",
        "symbols": ["NEW", "SHIPPED"]}},
      {"name": "shipTo", "type": {"type": "record", "name": "Address",
        "fields": [{"name": "city", "type": "string"},
                   {"name": "zip", "type": ["null", "string"], "default": null}]}}
    ]}
    """
    read, _ = from_avsc(avsc)
    xml = "<order><status>NEW</status><shipTo><city>Oslo</city></shipTo></order>"
    df = spark.createDataFrame([(xml,)], "xml string")
    row = parse_xml_with_xsd(
        df, "xml", _MAIN_XSD, "order", read=read, xsd_resolver=_RESOLVER
    ).collect()[0]
    assert row.status == "NEW"
    assert row.shipTo.city == "Oslo" and row.shipTo.zip is None
    assert row._violations == []


def test_xsd_unresolvable_location_raises_clearly():
    from avro_conversions_spark.schema.xsd import XsdAnalyzer

    with pytest.raises(ValueError, match="schemaLocation 'common.xsd'"):
        XsdAnalyzer(_MAIN_XSD, {"vendor.xsd": _VENDOR_XSD})


def test_xsd_include_cycle_terminates():
    from avro_conversions_spark.schema.xsd import XsdAnalyzer, XStruct

    a = """
    <xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
      <xs:include schemaLocation="b.xsd"/>
      <xs:element name="root" type="TB"/>
    </xs:schema>
    """
    b = """
    <xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
      <xs:include schemaLocation="a.xsd"/>
      <xs:complexType name="TB">
        <xs:sequence><xs:element name="x" type="xs:string"/></xs:sequence>
      </xs:complexType>
    </xs:schema>
    """
    xt = XsdAnalyzer(a, {"a.xsd": a, "b.xsd": b}).type_of("root")
    assert isinstance(xt, XStruct) and [f.name for f in xt.fields] == ["x"]


# ----------------------------------------------------------------- counts


def test_documented_pytest_count_matches_collected():
    """VERDICT r3 #8: README's test count drifted twice; derive it from
    actual pytest collection so the off-by-one cannot recur."""
    import re
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q", "tests/"],
        capture_output=True,
        text=True,
        cwd="/root/repo",
    ).stdout
    m = re.search(r"(\d+) tests collected", out)
    assert m, f"cannot parse collection summary from: {out[-200:]}"
    collected = int(m.group(1))
    with open("/root/repo/README.md", encoding="utf-8") as fh:
        readme = fh.read()
    dm = re.search(r"(\d+) pytest cases", readme)
    assert dm, "README missing the 'N pytest cases' marker"
    assert int(dm.group(1)) == collected, (
        f"README claims {dm.group(1)} pytest cases; collection finds {collected}"
    )


def test_new_gate_queries_registered_with_oracles():
    from avro_conversions_spark.operators.queries import ORACLES, QUERIES

    for name in ("hll_gate_lineitem", "ann_lsh_gate", "multimodal_features",
                 "schema_docs_markdown"):
        assert name in QUERIES and name in ORACLES


# ------------------------------------------- stateful batch invariance


def test_stateful_validator_invariant_to_arrow_batch_size(spark):
    """Round-4 bug: the stateful validator sorted each Arrow CHUNK
    independently, so a conversation straddling a batch boundary processed
    turns out of order — output depended on maxRecordsPerBatch (physical
    batching). Results must be identical under a tiny cap."""
    from avro_conversions_spark.operators.queries import q_stateful_stream_transcripts

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    try:
        base = sorted(
            map(tuple, q_stateful_stream_transcripts(spark, SF001).collect())
        )
        spark.conf.set(key, "16")
        tiny = sorted(
            map(tuple, q_stateful_stream_transcripts(spark, SF001).collect())
        )
    finally:
        spark.conf.set(key, before)
    assert base == tiny
    assert len(base) > 0


# ------------------------------------------------ minhash plan staging


def test_minhash_plan_stages_shingles_once(spark):
    """CollapseProject inlines once-referenced staged columns into
    higher-order-function lambdas, re-running shingling once per seed
    (measured 3x wall on the row-local signature pass). The optimized
    plan must tokenize exactly once, OUTSIDE the seed transform."""
    from avro_conversions_spark import dedup

    df = spark.createDataFrame([("a b c d e f",)], "text string")
    sig = dedup.with_minhash_signature(df, "text", num_hashes=8, hash_fn="xxhash")
    plan = sig._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(lower(") == 1
    # the tokenization must not appear inside the 8-seed transform: the
    # outer transform's source is the literal seed sequence, and shingle
    # staging lives in a separate projection below it
    seed_lambda = plan.split("array_min")[0]
    assert "split(lower(" not in seed_lambda


def test_minhash_signature_unchanged_by_staging_guard(spark):
    """The staging guard is a plan-level fix only — signatures must be
    bit-identical to the md5 oracle path's derivation rules."""
    from avro_conversions_spark import dedup
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"), (2, None)],
        "doc_id int, text string",
    )
    out = dedup.with_minhash_signature(df, "text", num_hashes=4, hash_fn="md5")
    rows = {r.doc_id: r.minhash_sig for r in out.collect()}
    # null text degrades to the empty-shingle signature (pre-existing
    # semantics — concat_ws over a null token array yields ""), which the
    # staging guard must not change
    assert rows[2] is not None and len(rows[2]) == 4
    sig = rows[1]
    assert len(sig) == 4 and all(isinstance(v, int) for v in sig)
    # deterministic: same input -> same signature on a fresh plan
    again = {r.doc_id: r.minhash_sig for r in dedup.with_minhash_signature(
        df, "text", num_hashes=4, hash_fn="md5").collect()}
    assert again[1] == sig


# ------------------------------------------------------ streaming dedup


def test_streaming_dedup_drops_duplicates_across_micro_batches(spark, tmp_path):
    """The dedup state must carry across micro-batches: a fingerprint
    first seen in batch 1 suppresses its duplicate arriving in batch 2."""
    import uuid

    from avro_conversions_spark.streaming.dedup import (
        streaming_exact_dedup,
        with_fingerprint,
    )

    d = str(tmp_path / "docs")
    # two explicit files -> maxFilesPerTrigger=1 -> two batches
    spark.createDataFrame(
        [(1, "Alpha beta gamma."), (2, "unique one")], "doc_id int, text string"
    ).coalesce(1).write.parquet(d + "/f1")
    spark.createDataFrame(
        [(3, "alpha  beta GAMMA"), (4, "unique two")], "doc_id int, text string"
    ).coalesce(1).write.parquet(d + "/f2")
    schema = spark.read.parquet(d + "/f1").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(d)
    )
    name = f"sdedup_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_exact_dedup(with_fingerprint(stream))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name).collect()
    # doc 3 normalizes to doc 1's fingerprint and must be dropped even
    # though it arrives in a different micro-batch
    assert len(out) == 3
    fps = {r.fingerprint for r in out}
    assert len(fps) == 3


def test_streaming_dedup_watermark_mode_runs(spark, tmp_path):
    """Bounded-state policy: dropDuplicatesWithinWatermark compiles and
    dedups within the horizon on a watermarked event-time stream."""
    import datetime
    import uuid

    from avro_conversions_spark.streaming.dedup import streaming_exact_dedup

    d = str(tmp_path / "ev")
    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        ("k1", t0),
        ("k1", t0 + datetime.timedelta(minutes=1)),  # dup within horizon
        ("k2", t0 + datetime.timedelta(minutes=2)),
    ]
    spark.createDataFrame(rows, "k string, ts timestamp").coalesce(1).write.parquet(d)
    stream = spark.readStream.schema("k string, ts timestamp").parquet(d)
    name = f"sdedup_wm_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_exact_dedup(stream, key_cols=("k",), watermark="10 minutes")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert {r.k for r in spark.table(name).collect()} == {"k1", "k2"}
    assert spark.table(name).count() == 2
