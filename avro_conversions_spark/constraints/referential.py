"""Referential integrity: values of a column must exist in a dimension.

SURVEY.md §2.8: small dimension → broadcast left_anti join (no shuffle of
the fact table, so no skew); large dimension → sort-merge left_anti (AQE
may still convert to broadcast at runtime if the built side turns out
small, and its skew join splits a hot key's partition).

An anti join's existence test ignores duplicate dimension keys, so the
dimension is deduplicated only on the sort-merge path: there the join
shuffles the dimension anyway and the partial aggregate shrinks that
shuffle. Under a broadcast the dedup would add an exchange and a job.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class ReferentialConstraint:
    column: str
    dim: DataFrame
    dim_column: str
    name: str = ""
    broadcast: bool = True

    def __post_init__(self) -> None:
        if not self.name:
            self.name = f"ref({self.column})"

    def violations(self, df: DataFrame) -> DataFrame:
        """Rows whose non-null ``column`` value is absent from the dimension
        (a null reference is absent, not dangling)."""
        dim = self.dim.select(F.col(self.dim_column).alias(self.column))
        dim = F.broadcast(dim) if self.broadcast else dim.dropDuplicates()
        facts = df.where(F.col(self.column).isNotNull())
        return facts.join(dim, on=self.column, how="left_anti")

    def violation_rows(self, df: DataFrame, key_cols: list[str]) -> DataFrame:
        return self.violations(df).select(
            *key_cols,
            F.lit(self.name).alias("constraint"),
            F.lit(self.column).alias("column"),
            F.lit("DANGLING_REFERENCE").alias("reason"),
            F.col(self.column).cast("string").alias("observed"),
        )
