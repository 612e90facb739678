"""Structured-Streaming validation: the same row-constraint pass applied to
a stream, with watermarked windowed violation aggregation.

The batch engine's row constraints are pure Column expressions, so they
apply verbatim to a streaming DataFrame — the single-scan violation
projection (``constraints.core.row_violations``) is the batch engine's own,
``observed`` formatting included; only the sink differs. Aggregate
constraints that need global state (uniqueness, drift) stay batch-side;
streaming covers the monitoring path: per-window violation counts with
late-data handling via watermarks (SURVEY.md §2.8 notes streaming is out
of scope for table validation v1 — this module is the thin bridge so the
same constraint set also powers live monitoring).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from avro_conversions_spark.constraints.core import RowConstraint, row_violations


def streaming_violations(
    stream: DataFrame,
    constraints: Sequence[RowConstraint],
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Violation rows from a streaming source — the batch engine's row
    pass (one select, no shuffle, fully pipelined) keeping ``ts``."""
    return row_violations(stream, constraints, [*key_cols, "ts"])


def windowed_violation_counts(
    stream: DataFrame,
    constraints: Sequence[RowConstraint],
    window: str = "1 minute",
    watermark: str = "5 minutes",
    ts_col: str = "ts",
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Tumbling-window violation counts with a watermark for late data —
    append-mode safe (windows finalize once the watermark passes)."""
    v = streaming_violations(stream, constraints, key_cols)
    return (
        v.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col("constraint"))
        .agg(F.count(F.lit(1)).alias("violation_count"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "constraint",
            "violation_count",
        )
    )
