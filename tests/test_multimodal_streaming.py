"""Multimodal plumbing (mapInPandas, Arrow batches) and streaming
validation (watermarked windows via the rate/memory source)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from avro_conversions_spark import multimodal as MM


def test_synthetic_media_deterministic(spark):
    a = sorted(map(tuple, MM.synthetic_media(spark, 50).drop("payload").collect()))
    b = sorted(map(tuple, MM.synthetic_media(spark, 50).drop("payload").collect()))
    assert a == b
    kinds = {r[1] for r in a}
    assert kinds <= {"image", "audio", "video"}


def test_extract_features_fake_decoder(spark):
    media = MM.synthetic_media(spark, 40)
    feats = MM.extract_features(media, fake=True, batch_records=8)
    rows = feats.collect()
    assert len(rows) == 40
    for r in rows:
        assert len(r.feature) == 8
        assert r.feature[0] == float(r.n_bytes)  # first feature = byte count


def test_extract_features_stub_raises(spark):
    media = MM.synthetic_media(spark, 4)
    with pytest.raises(Exception, match="NotImplementedError|media decoding"):
        MM.extract_features(media, fake=False).collect()


def test_frame_sample_plan(spark):
    media = MM.synthetic_media(spark, 60)
    frames = MM.frame_sample_plan(media, every_ms=10_000)
    got = frames.groupBy("media_id").agg(F.count(F.lit(1)).alias("n")).collect()
    vids = {r.media_id: r.duration_ms for r in media.where("kind='video'").collect()}
    assert {r.media_id for r in got} == set(vids)
    for r in got:
        assert r.n == vids[r.media_id] // 10_000 + 1


def test_streaming_windowed_counts(spark, tmp_path):
    """Run the streaming violation aggregation on a bounded memory stream
    (availableNow trigger) and check windowed counts."""
    from avro_conversions_spark.constraints import enum_in, not_null
    from avro_conversions_spark.streaming import windowed_violation_counts
    from avro_conversions_spark.transcripts import ROLES

    src_path = str(tmp_path / "stream_src")
    spark.createDataFrame(
        [
            ("c1", 0, "system", "2024-01-01 00:00:10"),
            ("c1", 1, "operator", "2024-01-01 00:00:20"),  # bad role, window 0
            ("c2", 0, "weird", "2024-01-01 00:01:30"),  # bad role, window 1
            (None, 1, "user", "2024-01-01 00:01:40"),  # null conv,  window 1
        ],
        "conv_id string, turn_idx int, role string, ts_s string",
    ).select("conv_id", "turn_idx", "role", F.col("ts_s").cast("timestamp").alias("ts")).write.mode(
        "overwrite"
    ).parquet(src_path)

    stream = spark.readStream.schema(
        "conv_id string, turn_idx int, role string, ts timestamp"
    ).parquet(src_path)
    out = windowed_violation_counts(
        stream, [not_null("conv_id"), enum_in("role", ROLES)], window="1 minute"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("viol_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r.window_start), r.constraint): r.violation_count
        for r in spark.sql("select * from viol_counts").collect()
    }
    assert got[("2024-01-01 00:00:00", "enum(role)")] == 1
    assert got[("2024-01-01 00:01:00", "enum(role)")] == 1
    assert got[("2024-01-01 00:01:00", "not_null(conv_id)")] == 1


def test_streaming_violations_match_engine_rows(spark, tmp_path):
    """The streaming row pass emits the batch engine's violation rows,
    ``observed`` included: a timestamp renders in the frozen ISO format."""
    import datetime

    from avro_conversions_spark.constraints import not_null, range_check
    from avro_conversions_spark.engine import ValidationEngine
    from avro_conversions_spark.streaming.validate import streaming_violations

    src_path = str(tmp_path / "obs_src")
    spark.createDataFrame(
        [
            ("c1", 0, "2024-01-01 00:00:10"),
            ("c1", 1, "2024-01-01 00:00:20.123456"),  # after the bound
            (None, 2, "2023-12-31 23:59:59"),  # null conv_id
        ],
        "conv_id string, turn_idx int, ts_s string",
    ).select("conv_id", "turn_idx", F.col("ts_s").cast("timestamp").alias("ts")).write.parquet(
        src_path
    )
    bound = datetime.datetime(2024, 1, 1, 0, 0, 15)
    constraints = [not_null("conv_id"), range_check("ts", hi=bound)]
    cols = ["conv_id", "turn_idx", "constraint", "column", "reason", "observed"]

    batch = ValidationEngine(row_constraints=constraints).run(spark.read.parquet(src_path))
    stream = spark.readStream.schema("conv_id string, turn_idx int, ts timestamp").parquet(src_path)
    q = (
        streaming_violations(stream, constraints)
        .writeStream.format("memory")
        .queryName("stream_obs")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((tuple(r) for r in spark.table("stream_obs").select(*cols).collect()), key=repr)
    want = sorted((tuple(r) for r in batch.violations.select(*cols).collect()), key=repr)
    batch.unpersist()
    assert got == want
    assert ("c1", 1, "range(ts)", "ts", "VALUE_OUT_OF_RANGE", "2024-01-01T00:00:20.123456Z") in got


def test_stateful_sequence_violations(spark, tmp_path):
    """applyInPandasWithState: incremental per-conversation validation
    across two micro-batches with carried state."""
    from avro_conversions_spark.streaming.stateful import stateful_sequence_violations

    src = str(tmp_path / "stateful_src")
    spark.createDataFrame(
        [
            ("c1", 0, "2024-01-01 00:00:00"),
            ("c1", 1, "2024-01-01 00:00:10"),
            ("c1", 3, "2024-01-01 00:00:20"),   # gap (2 missing)
            ("c2", 0, "2024-01-01 00:00:30"),
            ("c2", 0, "2024-01-01 00:00:40"),   # duplicate turn 0
            ("c2", 1, "2024-01-01 00:00:05"),   # ts regression
        ],
        "conv_id string, turn_idx int, ts_s string",
    ).selectExpr("conv_id", "turn_idx", "cast(ts_s as timestamp) as ts").write.mode(
        "overwrite"
    ).parquet(src)

    stream = spark.readStream.schema("conv_id string, turn_idx int, ts timestamp").parquet(src)
    out = stateful_sequence_violations(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("stateful_viol")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.conv_id, r.turn_idx, r.reason) for r in spark.sql("select * from stateful_viol").collect()}
    assert ("c1", 3, "NONCONTIGUOUS_TURN_IDX") in got
    assert ("c2", 0, "DUPLICATE_TURN") in got
    assert ("c2", 1, "TS_REGRESSION") in got
    assert len([g for g in got if g[0] == "c1"]) == 1  # turns 0,1 clean
