"""Hot-key aggregation and t-digest quantile sketches."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from avro_conversions_spark.constraints import UniqueConstraint
from avro_conversions_spark.functions.tdigest import (
    build_digest,
    digest_quantile,
    ks_from_digests,
    merge_digests,
    tdigest_columns,
)
from avro_conversions_spark.transcripts import transcripts


@pytest.fixture(scope="module")
def skewed(spark):
    # 2 hot conversations at 100x + 200 normal ones
    return transcripts(spark, n_convs=202, turns_per_conv=10, hot_convs=2, hot_factor=100)


def test_unique_multiplicity_exact_under_hot_key(spark, skewed):
    """Two conversations hold 100x the turns of the rest; the partial
    aggregate still counts every key exactly."""
    dups = UniqueConstraint(("conv_id",)).duplicate_keys(skewed)
    got = {r.conv_id: r.multiplicity for r in dups.collect()}
    want = {r.conv_id: r["count"] for r in skewed.groupBy("conv_id").count().collect()}
    assert got == want
    assert got["conv-00000000"] == 1000


# --- t-digest ---------------------------------------------------------------


def test_tdigest_accuracy_uniform():
    rng = np.random.RandomState(3)
    vals = rng.uniform(0, 100, 50_000)
    m, w = build_digest(vals, delta=100)
    assert len(m) <= 120  # compressed far below input size
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        est = digest_quantile(m, w, q)
        true = np.quantile(vals, q)
        assert abs(est - true) < 1.5, (q, est, true)


def test_tdigest_merge_matches_single():
    rng = np.random.RandomState(4)
    a, b = rng.normal(0, 1, 20_000), rng.normal(5, 2, 20_000)
    merged = merge_digests([build_digest(a), build_digest(b)])
    allv = np.concatenate([a, b])
    for q in (0.1, 0.5, 0.9):
        assert abs(digest_quantile(*merged, q) - np.quantile(allv, q)) < 0.25


def test_tdigest_distributed(spark):
    df = spark.range(100_000).select((F.col("id") % 1000).cast("double").alias("v"))
    m, w = tdigest_columns(df, ["v"])["v"]
    assert abs(digest_quantile(m, w, 0.5) - 499.5) < 15
    assert abs(digest_quantile(m, w, 0.9) - 899.1) < 15


@pytest.mark.parametrize(
    "n,values",
    [
        (5_000, "CAST(id % 97 AS DOUBLE)"),
        (200_000, "pmod(xxhash64(id), 1000000) / 1000.0D"),
    ],
    ids=["mod97", "uniform"],
)
def test_tdigest_layouts_agree_within_ks(spark, tmp_path, n, values):
    """Per-task partials make centroids layout-dependent; the contract
    that remains is that two layouts of one multiset agree as
    distributions, so a baseline from one layout passes on the other."""
    from avro_conversions_spark.constraints.drift import DriftConstraint, save_snapshot

    base = spark.range(n).selectExpr(f"{values} AS v")
    two, eight = base.repartition(2), base.repartition(8)
    d2, d8 = tdigest_columns(two, ["v"])["v"], tdigest_columns(eight, ["v"])["v"]
    assert ks_from_digests(*d2, *d8) <= 0.01
    c = DriftConstraint(["v"], str(tmp_path / "base2"), threshold=0.01)
    save_snapshot(c.snapshot(two), c.baseline_path)
    assert c.check(eight)[0]["status"] == "pass"


def test_asof_join_semantics(spark):
    from avro_conversions_spark.operators.asof import asof_join
    import datetime as dt

    TS = dt.datetime
    left = spark.createDataFrame(
        [(1, "a", TS(2024, 1, 1, 10, 0)), (2, "a", TS(2024, 1, 1, 12, 0)),
         (3, "b", TS(2024, 1, 1, 9, 0))],
        "event_id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("a", TS(2024, 1, 1, 9, 30), 1.0),   # before both a-events
         ("a", TS(2024, 1, 1, 11, 0), 2.0),   # between them
         ("a", TS(2024, 1, 1, 12, 0), 3.0),   # same instant as event 2 → visible
         ("b", TS(2024, 1, 1, 9, 30), 9.0)],  # AFTER b's only event → invisible
        "k string, rts timestamp, px double",
    )
    out = {r.event_id: (r.asof_rts, r.asof_px)
           for r in asof_join(left, right, key="k", left_ts="ts", right_ts="rts").collect()}
    assert out[1] == (TS(2024, 1, 1, 9, 30), 1.0)
    assert out[2] == (TS(2024, 1, 1, 12, 0), 3.0)  # <= tie included
    assert out[3] == (None, None)  # no preceding right row
