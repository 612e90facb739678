"""Paragraph-level near-dedup (round-5, VERDICT r4 next #6).

Documents are exploded into fixed-token-window paragraphs; each paragraph
gets a row-local MinHash signature; identical signatures cluster, and a
cluster spanning more than one document marks boilerplate. The
bit-for-bit DuckDB cross-check lives in the driver oracle
(paragraph_dedup_documents); these tests pin the semantic contract with
PLANTED boilerplate.
"""

from __future__ import annotations

from hashlib import md5

import pytest
from pyspark.sql import functions as F

BOILER = "this transcript is provided under license terms " * 3  # 24 tokens
UNIQUE = [
    "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    "one two three four five six seven eight nine ten eleven twelve",
    "red orange yellow green blue indigo violet ultraviolet infrared",
]


def _clusters(spark, rows):
    from avro_conversions_spark.dedup import paragraph_minhash_clusters

    df = spark.createDataFrame(rows, "doc_id long, text string")
    return paragraph_minhash_clusters(df).collect()


def test_planted_boilerplate_flagged_across_documents(spark):
    rows = [
        (0, BOILER + UNIQUE[0]),
        (1, BOILER + UNIQUE[1]),
        (2, UNIQUE[2]),
    ]
    got = _clusters(spark, rows)
    by_doc_para = {(r.doc_id, r.para_idx): r for r in got}
    # para 0 of docs 0 and 1 is the shared 20-token boilerplate window
    b0, b1 = by_doc_para[(0, 0)], by_doc_para[(1, 0)]
    assert b0.cluster == b1.cluster
    assert b0.is_boilerplate and b1.is_boilerplate
    # the unique tails and doc 2 are NOT flagged
    for key, r in by_doc_para.items():
        if key not in {(0, 0), (1, 0)}:
            assert not r.is_boilerplate, (key, r)


def test_every_paragraph_emitted_once(spark):
    rows = [(i, " ".join(f"w{i}t{j}" for j in range(45))) for i in range(5)]
    got = _clusters(spark, rows)
    # 45 tokens -> ceil(45/20) = 3 paragraphs per doc
    assert len(got) == 15
    assert {(r.doc_id, r.para_idx) for r in got} == {
        (i, p) for i in range(5) for p in range(3)
    }
    assert not any(r.is_boilerplate for r in got)


def test_short_and_empty_documents_survive(spark):
    rows = [(0, "tiny"), (1, "tiny"), (2, "")]
    got = _clusters(spark, rows)
    by_doc = {r.doc_id: r for r in got}
    assert len(got) == 3 and all(r.para_idx == 0 for r in got)
    # identical one-word docs cluster as boilerplate; empty doc does not
    assert by_doc[0].cluster == by_doc[1].cluster
    assert by_doc[0].is_boilerplate and by_doc[1].is_boilerplate
    assert not by_doc[2].is_boilerplate


@pytest.mark.parametrize("hash_fn", ["md5", "xxhash"])
def test_paragraph_cluster_is_md5_of_document_signature(spark, hash_fn):
    """Paragraph and document signatures share one MinHash kernel: a
    document of at most ``para_tokens`` tokens is a single paragraph whose
    ``cluster`` is md5 of its document-level signature joined by '_'."""
    from avro_conversions_spark.dedup import (
        paragraph_minhash_clusters,
        with_minhash_signature,
    )

    df = spark.createDataFrame([(0, UNIQUE[1])], "doc_id long, text string")
    (para,) = paragraph_minhash_clusters(df, hash_fn=hash_fn).collect()
    (doc,) = with_minhash_signature(
        df, num_hashes=4, shingle_n=2, hash_fn=hash_fn
    ).collect()
    assert para.para_idx == 0
    assert para.cluster == md5("_".join(map(str, doc.minhash_sig)).encode()).hexdigest()


def test_no_allpairs_join_in_plan(spark):
    """The 100 TB contract: signatures are a projection; the only exchange
    is cluster-keyed. A cartesian/broadcast-nested-loop join must never
    appear in the physical plan."""
    from avro_conversions_spark.dedup import paragraph_minhash_clusters

    df = spark.createDataFrame(
        [(i, "a b c d e f g h i j " * 4) for i in range(20)],
        "doc_id long, text string",
    )
    plan = (
        paragraph_minhash_clusters(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
