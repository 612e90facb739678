"""Drift (t-digest snapshot + KS) and resumable-ledger semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from avro_conversions_spark.constraints.drift import (
    DriftConstraint,
    save_snapshot,
    tdigest_snapshot,
)
from avro_conversions_spark.ledger import ParquetLedger, ResumableValidation


def test_drift_detects_shift(spark, tmp_path):
    base = spark.range(10_000).select((F.col("id") % 100).cast("double").alias("v"))
    cur_same = spark.range(10_000).select((F.col("id") % 100).cast("double").alias("v"))
    cur_shift = spark.range(10_000).select(((F.col("id") % 100) + 50).cast("double").alias("v"))
    path = str(tmp_path / "baseline")
    save_snapshot(tdigest_snapshot(base, ["v"]), path)
    d = DriftConstraint(["v"], path, threshold=0.1)
    assert d.check(cur_same)[0]["status"] == "pass"
    res = d.check(cur_shift)[0]
    assert res["status"] == "fail" and res["ks"] > 0.3


def _jobs_run_by(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` starts, counted by job group."""
    sc = spark.sparkContext
    group = "count-jobs"
    sc.setJobGroup(group, "count the jobs of one call")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001 — status is async
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_drift_check_digests_current_data_once(spark, tmp_path):
    """check() reads the baseline and digests the current data; it builds
    no intermediate snapshot frame to collect back."""
    base = spark.range(2_000).select((F.col("id") % 100).cast("double").alias("v"))
    path = str(tmp_path / "baseline")
    save_snapshot(tdigest_snapshot(base, ["v"]), path)
    d = DriftConstraint(["v"], path, threshold=0.1)
    result = []
    assert _jobs_run_by(spark, lambda: result.extend(d.check(base))) == 3
    assert result[0]["status"] == "pass" and result[0]["ks"] < 0.01


def test_ledger_resume_skips_completed(spark, tmp_path):
    from avro_conversions_spark.constraints import not_null
    from avro_conversions_spark.engine import ValidationEngine

    df = spark.createDataFrame(
        [(f"c{i}", j, "user") for i in range(20) for j in range(3)],
        "conv_id string, turn_idx int, role string",
    )
    eng = ValidationEngine(row_constraints=[not_null("conv_id")], key_cols=("conv_id", "turn_idx"))
    ledger = ParquetLedger(spark, str(tmp_path / "ledger"))
    rv = ResumableValidation(engine=eng, ledger=ledger, n_buckets=4)

    done1 = rv.run(df, "run-1", verdicts_path=str(tmp_path / "verdicts"))
    assert set(done1) == {"0", "1", "2", "3"}
    assert sum(done1.values()) == 60

    # resume: everything committed → nothing to do
    done2 = rv.run(df, "run-1")
    assert done2 == {}
    # a new run id starts fresh
    assert set(rv.pending(df, "run-2")) == {"0", "1", "2", "3"}
    # ledger rows carry lineage + counts
    rows = ledger.read().collect()
    assert len(rows) == 4 and all(r.lineage.startswith("engine=") for r in rows)


def test_ledger_partial_resume(spark, tmp_path):
    from avro_conversions_spark.constraints import not_null
    from avro_conversions_spark.engine import ValidationEngine

    df = spark.createDataFrame(
        [(f"c{i}", 0, "u") for i in range(50)], "conv_id string, turn_idx int, role string"
    )
    eng = ValidationEngine(row_constraints=[not_null("conv_id")])
    ledger = ParquetLedger(spark, str(tmp_path / "ledger2"))
    rv = ResumableValidation(engine=eng, ledger=ledger, n_buckets=4)
    # simulate a crash after two committed partitions
    ledger.commit("r", "0", 10, "engine=x")
    ledger.commit("r", "2", 10, "engine=x")
    assert rv.pending(df, "r") == ["1", "3"]
    done = rv.run(df, "r")
    assert set(done) == {"1", "3"}
    assert rv.pending(df, "r") == []


def test_ledger_staged_buckets_prune_files(spark, tmp_path):
    """With stage_path set, a single bucket's scan must read only its own
    partition directory — resume does NOT re-scan the full table per bucket
    (VERDICT round-1 scale hazard d)."""
    from avro_conversions_spark.constraints import not_null
    from avro_conversions_spark.engine import ValidationEngine

    df = spark.createDataFrame(
        [(f"c{i}", j, "u") for i in range(40) for j in range(2)],
        "conv_id string, turn_idx int, role string",
    )
    eng = ValidationEngine(row_constraints=[not_null("conv_id")])
    ledger = ParquetLedger(spark, str(tmp_path / "ledger3"))
    rv = ResumableValidation(
        engine=eng, ledger=ledger, n_buckets=4, stage_path=str(tmp_path / "stage")
    )
    src, bucket = rv._staged_source(df)
    one = src.where(bucket == F.lit("1"))
    # partition pruning: the scan must carry a PartitionFilter on _bucket
    # (inputFiles() ignores pruning, so inspect the physical plan)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_bucket" in plan.split("PartitionFilters")[1][:200]
    # end-to-end through the staged path still validates everything
    done = rv.run(df, "r-staged")
    assert sum(done.values()) == 80


def test_ledger_rerun_replaces_not_duplicates(spark, tmp_path):
    """Crash between output write and watermark commit must not duplicate
    verdict/violation rows on resume (dynamic partition overwrite)."""
    from avro_conversions_spark.constraints import not_null
    from avro_conversions_spark.engine import ValidationEngine

    df = spark.createDataFrame(
        [(f"c{i}", 0, None if i % 7 == 0 else "u") for i in range(21)],
        "conv_id string, turn_idx int, role string",
    )
    eng = ValidationEngine(row_constraints=[not_null("role")])
    ledger = ParquetLedger(spark, str(tmp_path / "ledger4"))
    rv = ResumableValidation(engine=eng, ledger=ledger, n_buckets=2)
    vp, xp = str(tmp_path / "verd"), str(tmp_path / "viol")

    rv.run(df, "r", verdicts_path=vp, violations_path=xp)
    v1 = spark.read.parquet(vp).count()
    x1 = spark.read.parquet(xp).count()
    # simulate the crash: wipe the ledger (outputs already written), re-run
    import shutil

    shutil.rmtree(str(tmp_path / "ledger4"))
    rv.run(df, "r", verdicts_path=vp, violations_path=xp)
    assert spark.read.parquet(vp).count() == v1
    assert spark.read.parquet(xp).count() == x1


def test_tdigest_drift_baseline_and_ks(spark, tmp_path):
    """North-star wiring: baseline = persisted t-digest centroids, KS over
    digest CDFs; tolerance-checked against exact quantiles."""
    import numpy as np

    from avro_conversions_spark.constraints.drift import (
        DriftConstraint,
        save_snapshot,
        tdigest_snapshot,
    )
    from avro_conversions_spark.functions.tdigest import digest_quantile

    base = spark.range(20_000).select((F.col("id") % 1000).cast("double").alias("v"))
    path = str(tmp_path / "td_base")
    snap = tdigest_snapshot(base, ["v"])
    save_snapshot(snap, path)
    # digest quantiles track exact ones (uniform 0..999)
    row = spark.read.parquet(path).collect()[0]
    m, w = np.asarray(row["means"]), np.asarray(row["weights"])
    for q, expect in [(0.25, 249.75), (0.5, 499.5), (0.75, 749.25)]:
        assert abs(digest_quantile(m, w, q) - expect) < 15, q
    d = DriftConstraint(["v"], path, threshold=0.05)
    same = spark.range(20_000).select((F.col("id") % 1000).cast("double").alias("v"))
    shifted = spark.range(20_000).select(((F.col("id") % 1000) + 500).cast("double").alias("v"))
    assert d.check(same)[0]["status"] == "pass"
    res = d.check(shifted)[0]
    assert res["status"] == "fail" and res["ks"] > 0.3
    # a baseline that is not a digest snapshot (here a GK quantile grid)
    # fails loudly, naming its path
    bad_path = str(tmp_path / "not_a_digest")
    spark.createDataFrame(
        [("v", [0.0, 0.5, 1.0], [0.0, 499.5, 999.0])],
        "column string, probs array<double>, quantiles array<double>",
    ).write.parquet(bad_path)
    d_bad = DriftConstraint(["v"], bad_path, threshold=0.05)
    with pytest.raises(ValueError, match="not_a_digest"):
        d_bad.check(same)
