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


@dataclass
class SequenceConstraint:
    conv_col: str = "conv_id"
    idx_col: str = "turn_idx"
    ts_col: str | None = "ts"
    name: str = "sequence(conv_id,turn_idx)"
    check_contiguous: bool = True
    check_ts_monotone: bool = True
    start: int = 0  # first expected index (0 for transcripts, 1 for SQL-style)

    def violations(self, df: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
        """(conv, idx, [extra...,] constraint, column, reason, observed) rows.
        ``extra_cols`` (e.g. the engine's carried partition key) ride the
        same window pass."""
        w = Window.partitionBy(self.conv_col).orderBy(self.idx_col)
        cols = (
            [self.conv_col, self.idx_col]
            + ([self.ts_col] if self.ts_col else [])
            + list(extra_cols)
        )
        out = df.select(*cols)
        checks = []
        if self.check_contiguous:
            # turn_idx must equal its 0-based rank within the conversation
            out = out.withColumn("_rn", F.row_number().over(w) - 1 + self.start)
            checks.append(
                (
                    F.col(self.idx_col) != F.col("_rn"),
                    self.idx_col,
                    "NONCONTIGUOUS_TURN_IDX",
                    F.concat_ws(
                        "!=", F.col(self.idx_col).cast("string"), F.col("_rn").cast("string")
                    ),
                )
            )
        if self.check_ts_monotone and self.ts_col:
            out = out.withColumn("_prev_ts", F.lag(self.ts_col).over(w))
            checks.append(
                (
                    F.col("_prev_ts").isNotNull()
                    & (F.col(self.ts_col) < F.col("_prev_ts")),
                    self.ts_col,
                    "TS_REGRESSION",
                    F.date_format(self.ts_col, "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"),
                )
            )
        viol_structs = F.array(
            *[
                F.when(
                    pred,
                    F.struct(
                        F.lit(self.name).alias("constraint"),
                        F.lit(col).alias("column"),
                        F.lit(reason).alias("reason"),
                        obs.cast("string").alias("observed"),
                    ),
                )
                for pred, col, reason, obs in checks
            ]
        )
        keep = [self.conv_col, self.idx_col, *extra_cols]
        return (
            out.select(
                *keep,
                F.filter(viol_structs, lambda x: x.isNotNull()).alias("_v"),
            )
            .where(F.size("_v") > 0)
            .select(*keep, F.explode("_v").alias("_e"))
            .select(*keep, "_e.*")
        )
