"""Uniqueness of a (composite) key via one partial-aggregated groupBy.

The reference has no table-level operators (SURVEY.md §2.8); the north rule
requires uniqueness of (conv_id, turn_idx) with explicit skew handling.

Skew: ``groupBy(key).agg(count, min(part))`` plans a map-side partial
aggregate before its one exchange, so each map task sends at most one row
per distinct key it saw. A hot key's reducer input is therefore bounded by
the number of map tasks, not by the key's row count, and AQE splits or
coalesces the shuffle partitions at runtime. A salt on top of that adds an
exchange and removes no skew.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class UniqueConstraint:
    columns: tuple[str, ...] = ("conv_id", "turn_idx")
    name: str = ""

    def __post_init__(self) -> None:
        if not self.name:
            self.name = f"unique({','.join(self.columns)})"

    def duplicate_keys(self, df: DataFrame, part_col: str | None = None) -> DataFrame:
        """Keys occurring more than once, with their multiplicity: one
        partial-aggregated groupBy on the key columns, one shuffle.

        ``part_col``: optional partition-attribution column carried through
        the aggregation as ``min(part_col)`` — deterministic ("first
        partition lexicographically" containing the key), and free compared
        to any join-back (rides the same shuffle)."""
        p_aggs = [F.min(part_col).alias(part_col)] if part_col else []
        return (
            df.groupBy(*self.columns)
            .agg(F.count(F.lit(1)).alias("multiplicity"), *p_aggs)
            .where(F.col("multiplicity") > 1)
        )

    def violations(self, df: DataFrame, part_col: str | None = None) -> DataFrame:
        """One violation row per duplicated key (not per duplicate row):
        (key cols..., [part_col,] constraint, column, reason, observed)."""
        dups = self.duplicate_keys(df, part_col=part_col)
        return dups.select(
            *self.columns,
            *([part_col] if part_col else []),
            F.lit(self.name).alias("constraint"),
            F.lit(",".join(self.columns)).alias("column"),
            F.lit("DUPLICATE_KEY").alias("reason"),
            F.concat(F.lit("multiplicity="), F.col("multiplicity").cast("string")).alias(
                "observed"
            ),
        )
