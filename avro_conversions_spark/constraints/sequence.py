"""Per-conversation sequence invariants: contiguous turn_idx starting at 0
and non-decreasing timestamps, under stable (conv_id, turn_idx) ordering
(BASELINE.json input_hint: "per-turn text equality under stable turn
ordering").

Implemented with a window over conv_id — the natural Spark expression of
"per-conversation order". Skew note: a hot conversation with 100x the
turns is still only thousands of rows, far below partition size; the
window's sort is per-key and spills if needed. The engine does not
repartition beforehand: the window plans its own conv_id exchange, and
since it must see the *whole* conversation no salt is applied — hot-key
pressure is bounded by max conversation length, not by conversation count.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from avro_conversions_spark.constraints.core import (
    TS_CANON_FMT,
    explode_violations,
    violation_struct,
)


@dataclass
class SequenceConstraint:
    conv_col: str = "conv_id"
    idx_col: str = "turn_idx"
    ts_col: str | None = "ts"
    name: str = "sequence(conv_id,turn_idx)"
    start: int = 0  # first expected index (0 for transcripts, 1 for SQL-style)

    def violations(self, df: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
        """(conv, idx, [extra...,] constraint, column, reason, observed) rows.
        ``extra_cols`` (e.g. the engine's carried partition key) ride the
        same window pass. ``ts_col=None`` checks contiguity only."""
        w = Window.partitionBy(self.conv_col).orderBy(self.idx_col)
        cols = (
            [self.conv_col, self.idx_col]
            + ([self.ts_col] if self.ts_col else [])
            + list(extra_cols)
        )
        # turn_idx must equal its 0-based rank within the conversation
        out = df.select(*cols).withColumn("_rn", F.row_number().over(w) - 1 + self.start)
        obs = F.concat_ws("!=", F.col(self.idx_col).cast("string"), F.col("_rn").cast("string"))
        checks = [
            (
                F.col(self.idx_col) != F.col("_rn"),
                violation_struct(self.name, self.idx_col, "NONCONTIGUOUS_TURN_IDX", obs),
            )
        ]
        if self.ts_col:
            out = out.withColumn("_prev_ts", F.lag(self.ts_col).over(w))
            obs = F.date_format(self.ts_col, TS_CANON_FMT)
            checks.append(
                (
                    F.col("_prev_ts").isNotNull() & (F.col(self.ts_col) < F.col("_prev_ts")),
                    violation_struct(self.name, self.ts_col, "TS_REGRESSION", obs),
                )
            )
        return explode_violations(out, [self.conv_col, self.idx_col, *extra_cols], checks)
