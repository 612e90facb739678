"""Round-3 regression tests: every VERDICT r2 'next round' item and every
ADVICE r2 finding gets a pinned behavior here.

- decimal exactness judged in decimal space, not through double
- t-digest of a constant column split over tasks is exact
- to_spark_type recursion guard
- XSD simpleContent inherited attributes
- corpus-relative shingle-frequency cap
- embedding near-dup hot-bucket star bound
- IVF sampled quantizer fit (still exact at full probe)
- runtime XML structural validation (XmlAsAvroParser.java:263-278)
- SchemaManipulator fluent startFrom entries (SchemaManipulator.java:66-108)
- HLL estimate quality gate (±5% vs exact NDV at sf0.01)
- sort-merge referential plan
- documented query counts derived from code
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

SF001 = "/root/testdata/sf0.01"


# ---------------------------------------------------------------- decimal


def test_decimal_excess_digits_below_double_precision_flagged(spark):
    """'1.23000000000000001' collapses to the double 1.23 — the old
    double-space round trip falsely passed it; BigDecimal semantics
    (RoundingMode.UNNECESSARY) must flag the excess fraction digits."""
    from avro_conversions_spark.schema.resolution import decimal_roundtrip_ok

    df = spark.createDataFrame(
        [("1.23000000000000001",), ("1.23",), ("1.230000",), ("1.0E-4",)], "v string"
    )
    got = df.select(
        F.col("v"), decimal_roundtrip_ok(F.col("v"), 5, 2, from_string=True).alias("ok")
    ).collect()
    by_v = {r.v: r.ok for r in got}
    assert by_v["1.23000000000000001"] is False  # excess digits → flag
    assert by_v["1.23"] is True
    assert by_v["1.230000"] is True  # trailing zeros are exact
    # scientific rendering that fits (0.0001 needs s>=4 → fails s=2)
    assert by_v["1.0E-4"] is False


def test_decimal_fits_constraint_inherits_decimal_space_check(spark):
    from avro_conversions_spark.constraints import decimal_fits

    df = spark.createDataFrame(
        [("a", "1.23000000000000001"), ("b", "4.56"), ("c", "1.239")], "id string, x string"
    )
    c = decimal_fits("x", 5, 2)
    bad = {r.id for r in df.where(c.predicate(F.col("x"))).collect()}
    assert bad == {"a", "c"}


def test_decimal_scientific_exact_still_passes(spark):
    """'1.0E-4' against decimal(10,6) is exact — regression guard for the
    round-1 fix the decimal-space rework must not undo."""
    from avro_conversions_spark.schema.resolution import decimal_roundtrip_ok

    df = spark.createDataFrame([("1.0E-4",), ("1.23E2",)], "v string")
    got = {r.v: r.ok for r in df.select(
        "v", decimal_roundtrip_ok(F.col("v"), 10, 6, from_string=True).alias("ok")
    ).collect()}
    assert got == {"1.0E-4": True, "1.23E2": True}


# ---------------------------------------------------------------- t-digest


def test_tdigest_constant_column_quantiles_exact(spark):
    """A constant column spread over 4 input partitions merges into one
    exact digest: nothing dropped or double-counted across task partials."""
    from avro_conversions_spark.functions.tdigest import digest_quantile, tdigest_columns

    df = spark.range(0, 5_000, 1, 4).select(F.lit(7.5).alias("v"))
    m, w = tdigest_columns(df, ["v"])["v"]
    assert w.sum() == 5000
    assert (m == 7.5).all()
    assert [digest_quantile(m, w, q) for q in (0.1, 0.5, 0.9)] == [7.5, 7.5, 7.5]


# ---------------------------------------------------------------- recursion


def test_to_spark_type_recursive_record_clear_error():
    from avro_conversions_spark.schema.model import from_avsc, to_spark_type

    avsc = """
    {"type":"record","name":"Node","fields":[
      {"name":"value","type":"long"},
      {"name":"next","type":["null","Node"],"default":null}
    ]}
    """
    rt = from_avsc(avsc)
    if isinstance(rt, tuple):  # (ReadType, nullable) form
        rt = rt[0]
    with pytest.raises(ValueError, match="recursive record"):
        to_spark_type(rt)


# ---------------------------------------------------------------- XSD attrs


def test_xsd_simple_content_chain_inherits_base_attributes():
    from avro_conversions_spark.schema.xsd import XsdAnalyzer, XStruct

    xsd = """
    <xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
      <xs:element name="price" type="DerivedPrice"/>
      <xs:complexType name="BasePrice">
        <xs:simpleContent>
          <xs:extension base="xs:string">
            <xs:attribute name="currency" type="xs:string" use="required"/>
          </xs:extension>
        </xs:simpleContent>
      </xs:complexType>
      <xs:complexType name="DerivedPrice">
        <xs:simpleContent>
          <xs:extension base="BasePrice">
            <xs:attribute name="vat" type="xs:string"/>
          </xs:extension>
        </xs:simpleContent>
      </xs:complexType>
    </xs:schema>
    """
    xt = XsdAnalyzer(xsd).type_of("price")
    assert isinstance(xt, XStruct)
    names = [f.name for f in xt.fields]
    # inherited attribute first, derived second, tag content last
    assert names == ["currency", "vat", "value"]


# ---------------------------------------------------------------- jaccard cap


def test_jaccard_freq_cap_is_corpus_relative(spark, monkeypatch):
    """A corpus-frequent shingle must be dropped by the cap even when a
    candidate set narrows the docs entering the join (ADVICE r2). Without
    candidates the corpus frequencies come from the staged shingle frame:
    the corpus is shingled once."""
    import avro_conversions_spark.dedup as dedup

    common = "the quick brown"  # appears in every doc → corpus DF = 4
    rows = [
        (0, "the quick brown alpha beta gamma"),
        (1, "the quick brown alpha beta gamma"),
        (2, "the quick brown delta epsilon zeta"),
        (3, "the quick brown delta epsilon zeta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cand = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    # cap 2 < corpus DF 4 of every 'the quick *' shingle; candidate-subset
    # DF would be 2 and (wrongly) keep them
    got = dedup.ngram_jaccard_pairs(
        docs, threshold=0.0, shingle_n=3, candidates=cand, max_shingle_freq=2
    ).collect()
    # docs 0/1 are identical: their rare shingles all survive → jaccard 1.0
    assert [(r.id_a, r.id_b, r.jaccard) for r in got] == [(0, 1, 1.0)]
    calls = []
    real_doc_shingles = dedup.doc_shingles

    def counting_doc_shingles(*a, **kw):
        calls.append(1)
        return real_doc_shingles(*a, **kw)

    monkeypatch.setattr(dedup, "doc_shingles", counting_doc_shingles)
    # the capped score equals the score over rare-only shingles: recompute
    # without candidates for the same pair — the shared common shingles
    # were dropped corpus-wide, so the no-candidate run agrees
    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.0, shingle_n=3, max_shingle_freq=2
        ).collect()
    }
    assert len(calls) == 1
    # cross-group docs share only the capped shingle, so they never pair
    assert full == {(0, 1): 1.0, (2, 3): 1.0}


# ---------------------------------------------------------------- hot bucket


def test_embedding_near_dup_hot_bucket_star_bound(spark):
    """Adversarial constant-vector corpus: one degenerate SimHash bucket.
    The clique would be n(n-1)/2 pairs; the star bound caps it at n-1,
    every duplicate still linked to the min-id keeper."""
    import avro_conversions_spark.dedup as dedup

    n = 200
    rows = [(i, [1.0, 2.0, 3.0, 0.5]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = dedup.embedding_near_duplicates(
        df, threshold=0.9, bits=4, max_bucket=50
    ).collect()
    assert len(got) == n - 1  # star, not clique (19900 pairs)
    assert all(r.id_a == 0 for r in got)  # keeper = min id
    assert all(r.bucket_capped for r in got)
    assert sorted(r.id_b for r in got) == list(range(1, n))
    assert all(r.cos == 1.0 for r in got)


def test_embedding_near_dup_small_bucket_exact_clique(spark):
    import avro_conversions_spark.dedup as dedup

    rows = [
        (0, [1.0, 2.0, 3.0, 0.5]),
        (1, [1.0, 2.0, 3.0, 0.5]),
        (2, [1.0, 2.0, 3.0, 0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r.id_a, r.id_b) for r in dedup.embedding_near_duplicates(
        df, threshold=0.9, bits=4, max_bucket=50
    ).collect()}
    assert got == {(0, 1), (0, 2), (1, 2)}  # full clique below the cap


# ---------------------------------------------------------------- IVF sample


def test_ivf_sampled_fit_still_exact_at_full_probe(spark):
    """Quantizer fit on a Bernoulli sample (the 100 TB path): centroids
    change but full-probe IVF degenerates to exact top-k regardless."""
    from avro_conversions_spark.similarity import brute_force_topk, ivf_topk

    corpus = spark.read.parquet(f"{SF001}/embeddings.parquet")
    queries = corpus.where(F.col("vec_id") < 5)
    exact = {
        (r.qid, r.rank): r.nid
        for r in brute_force_topk(corpus, queries, k=3).collect()
    }
    # fit_sample far below corpus size → sampling path exercised
    approx = {
        (r.qid, r.rank): r.nid
        for r in ivf_topk(
            corpus, queries, k=3, n_lists=4, n_probe=4, fit_sample=100
        ).collect()
    }
    assert approx == exact


# ---------------------------------------------------------------- XML + XSD


_XSD = """
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="turn">
    <xs:complexType>
      <xs:sequence>
        <xs:element name="speaker" type="xs:string"/>
        <xs:element name="mood" minOccurs="0">
          <xs:simpleType>
            <xs:restriction base="xs:string">
              <xs:enumeration value="happy"/>
              <xs:enumeration value="neutral"/>
            </xs:restriction>
          </xs:simpleType>
        </xs:element>
        <xs:element name="note" type="xs:string" minOccurs="0"/>
        <xs:element name="tag" type="xs:string" minOccurs="0" maxOccurs="unbounded"/>
      </xs:sequence>
    </xs:complexType>
  </xs:element>
</xs:schema>
"""


def _parse_xml(spark, docs: list[str]):
    from avro_conversions_spark.sources.documents import parse_xml_with_xsd

    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "i long, xml string")
    return parse_xml_with_xsd(df, "xml", _XSD, "turn", keep_cols=["i"]).orderBy("i").collect()


def test_xml_structural_missing_required_is_violation_not_silent_null(spark):
    rows = _parse_xml(spark, [
        "<turn><speaker>alice</speaker></turn>",
        "<turn><mood>happy</mood></turn>",  # speaker missing
    ])
    assert rows[0].speaker == "alice"
    assert [v["reason"] for v in rows[0]._violations] == []
    # reported once: the document-level MISSING_REQUIRED_FIELD rule skips a
    # field that the structural check already named
    assert [(v["column"], v["reason"]) for v in rows[1]._violations] == [
        ("speaker", "MISSING_REQUIRED_ELEMENT")
    ]
    assert not rows[1]._corrupt  # well-formed, structurally invalid


def test_xml_structural_cardinality_violation(spark):
    rows = _parse_xml(spark, [
        "<turn><speaker>a</speaker><note>x</note><note>y</note></turn>",
        "<turn><speaker>a</speaker><tag>t1</tag><tag>t2</tag></turn>",  # unbounded ok
    ])
    assert ("note", "TOO_MANY_ELEMENTS") in [
        (v["column"], v["reason"]) for v in rows[0]._violations
    ]
    assert rows[0].note == "x"  # first occurrence kept
    assert [v["reason"] for v in rows[1]._violations] == []
    assert list(rows[1].tag) == ["t1", "t2"]


def test_xml_structural_enum_violation_from_xsd_facets(spark):
    rows = _parse_xml(spark, [
        "<turn><speaker>a</speaker><mood>angry</mood></turn>",
        "<turn><speaker>a</speaker><mood>happy</mood></turn>",
    ])
    reasons = [(v["column"], v["reason"]) for v in rows[0]._violations]
    assert any(col == "mood" for col, _ in reasons)
    assert rows[1].mood == "happy"
    assert [v for v in rows[1]._violations] == []


def test_xml_structural_malformed_still_corrupt(spark):
    rows = _parse_xml(spark, ["<turn><speaker>a</turn>"])
    assert rows[0]._corrupt


_ENVELOPE_XSD = """
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="envelope">
    <xs:complexType>
      <xs:sequence>
        <xs:element name="source" type="xs:string"/>
        <xs:element name="payload">
          <xs:complexType mixed="true">
            <xs:sequence>
              <xs:any minOccurs="0" processContents="lax"/>
            </xs:sequence>
            <xs:attribute name="type" type="xs:string"/>
          </xs:complexType>
        </xs:element>
      </xs:sequence>
    </xs:complexType>
  </xs:element>
</xs:schema>
"""


def test_xml_unparsed_payload_reassembles_raw_subtree(spark):
    """Mixed/any content: the payload's 'value' holds the RAW inner
    subtree with markup — not just character data (reference
    XmlResolvingTest.testContentOfMixedElements, xmlPayload.xml)."""
    from avro_conversions_spark.sources.documents import parse_xml_with_xsd

    docs = [
        "<envelope><source>src</source>"
        "<payload type=\"xml\"><record><title>Status</title>"
        "<number>1</number></record></payload></envelope>",
        "<envelope><source>src</source>"
        "<payload type=\"text\">Hello World!</payload></envelope>",
    ]
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "i long, xml string")
    rows = (
        parse_xml_with_xsd(df, "xml", _ENVELOPE_XSD, "envelope", keep_cols=["i"])
        .orderBy("i")
        .collect()
    )
    assert rows[0].payload["type"] == "xml"
    assert rows[0].payload["value"] == (
        "<record><title>Status</title><number>1</number></record>"
    )
    assert rows[1].payload["type"] == "text"
    assert rows[1].payload["value"] == "Hello World!"
    assert rows[0].source == "src"


# ---------------------------------------------------------------- startFrom


def test_start_from_json_schema_rename_and_markdown():
    from avro_conversions_spark.manipulate import start_from_json_schema

    schema = {
        "type": "object",
        "title": "Person",
        "properties": {
            "fullName": {"type": "string", "description": "Someone's name"},
            "age": {"type": "integer"},
        },
        "required": ["fullName"],
    }
    m = start_from_json_schema(schema).rename_field("fullName", "name")
    st = m.finish_schema()
    assert [f.name for f in st.fields] == ["name", "age"]
    md = m.documentation(title="Person")
    assert "# Person" in md
    assert "| name |" in md
    assert "Someone&lt;br/&gt;" not in md  # sanity: escaping only applies to <


def test_start_from_xsd_convention_and_unwrap():
    from avro_conversions_spark.manipulate import start_from_xsd

    xsd = """
    <xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
      <xs:element name="Order">
        <xs:complexType>
          <xs:sequence>
            <xs:element name="OrderNumber" type="xs:string"/>
            <xs:element name="Lines">
              <xs:complexType>
                <xs:sequence>
                  <xs:element name="Line" type="xs:string" maxOccurs="unbounded"/>
                </xs:sequence>
              </xs:complexType>
            </xs:element>
          </xs:sequence>
        </xs:complexType>
      </xs:element>
    </xs:schema>
    """
    m = (
        start_from_xsd(xsd, "Order")
        .use_naming_convention("snake_case")
        .unwrap_array("Lines")
    )
    st = m.finish_schema()
    by_name = {f.name: f.dataType for f in st.fields}
    assert "order_number" in by_name
    assert isinstance(by_name["lines"], T.ArrayType)  # wrapper gone, renamed


# ---------------------------------------------------------------- HLL gate


def test_hll_estimate_within_5pct_of_exact(spark):
    from avro_conversions_spark.stats import exact_ndv_long, hll_estimate, hll_sketches

    li = spark.read.parquet(f"{SF001}/lineitem.parquet")
    cols = ["l_orderkey", "l_partkey"]
    exact = {r.column: r.n_distinct for r in exact_ndv_long(li, cols).collect()}
    est = {
        r.column: r.ndv_estimate
        for r in hll_estimate(hll_sketches(li, cols)).collect()
    }
    for c in cols:
        assert abs(est[c] - exact[c]) / exact[c] <= 0.05, (c, est[c], exact[c])


# ---------------------------------------------------------------- sort-merge


def test_referential_non_broadcast_uses_sort_merge(spark):
    from avro_conversions_spark.constraints import ReferentialConstraint

    li = spark.read.parquet(f"{SF001}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF001}/orders.parquet")
    r = ReferentialConstraint("l_orderkey", orders, "o_orderkey", broadcast=False)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = r.violations(li)._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "LeftAnti" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_referential_broadcast_skips_dim_dedup(spark):
    """An anti join ignores duplicate dimension keys: the broadcast path
    reads the dimension as is (no exchange under the BroadcastExchange) and
    finds the same dangling rows as the deduplicating sort-merge path."""
    from avro_conversions_spark.constraints import ReferentialConstraint

    catalog = spark.createDataFrame(
        [("search", "1.2.0"), ("search", "2.0.0"), ("calculator", "0.9.1")],
        "tool_name string, tool_version string",
    )
    facts = spark.createDataFrame(
        [(1, "search"), (2, "ghost"), (3, None), (4, "calculator"), (5, "ghost")],
        "id int, tool string",
    )

    def dangling(broadcast):
        r = ReferentialConstraint("tool", catalog, "tool_name", broadcast=broadcast)
        v = r.violations(facts)
        return v, sorted(map(tuple, v.collect()))

    bv, got = dangling(True)
    assert got == [("ghost", 2), ("ghost", 5)]  # join key first
    assert dangling(False)[1] == got
    # the fact side never shuffles under a broadcast anti join, so every
    # Exchange in the plan must be the BroadcastExchange itself
    plan = bv._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan and "LeftAnti" in plan
    assert plan.count("Exchange") == plan.count("BroadcastExchange")


# ---------------------------------------------------------------- counts


def test_documented_query_counts_match_code():
    """README/COVERAGE headline counts must be derived from code, not
    hand-maintained (VERDICT r2 'what's wrong' #3)."""
    from avro_conversions_spark.operators.queries import ORACLES, QUERIES

    n_q, n_o = len(QUERIES), len(ORACLES)
    assert set(ORACLES) <= set(QUERIES)
    for path in ("/root/repo/README.md", "/root/repo/COVERAGE.md"):
        with open(path, encoding="utf-8") as fh:
            text = fh.read()
        m = re.search(r"(\d+) driver queries \((\d+) oracle-checked\)", text)
        assert m, f"{path} missing the generated counts marker"
        assert (int(m.group(1)), int(m.group(2))) == (n_q, n_o), path
