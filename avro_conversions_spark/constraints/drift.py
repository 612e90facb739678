"""Distribution-drift checks: t-digest baseline snapshots + KS statistic.

- a *baseline snapshot* is one row per column, ``(column string, means
  array<double>, weights array<double>)``: the merged t-digest centroids
  from ``functions.tdigest.tdigest_columns`` (one zero-exchange pass,
  O(delta) centroids per column);
- a later run digests the current data the same way, and the KS statistic
  D = max |CDF_base(v) − CDF_cur(v)| over the union centroid grid is
  evaluated DRIVER-SIDE — the 100 TB table is reduced to two tiny digests
  before any comparison;
- verdict: drift if D > threshold.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from avro_conversions_spark.functions.tdigest import ks_from_digests, tdigest_columns

SNAPSHOT_COLUMNS = ("column", "means", "weights")


def tdigest_snapshot(df: DataFrame, columns: list[str], delta: int = 100) -> DataFrame:
    """One row per column: (column, means array<double>, weights
    array<double>) — merged t-digest centroids, the north-star baseline
    snapshot ("KS-statistic on t-digest quantile sketches"). Unlike GK,
    t-digest keeps relative accuracy at the tails (q -> 0/1), which is
    where latency-like drift shows first."""
    digests = tdigest_columns(df, columns, delta=delta)
    rows = [(c, m.tolist(), w.tolist()) for c, (m, w) in digests.items()]
    return df.sparkSession.createDataFrame(
        rows, "column string, means array<double>, weights array<double>"
    )


def save_snapshot(snap: DataFrame, path: str) -> None:
    snap.write.mode("overwrite").parquet(path)


def load_snapshot(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


@dataclass
class DriftConstraint:
    """Compare current data against a persisted t-digest baseline
    snapshot; KS evaluates over the two digests' CDFs driver-side."""

    columns: list[str]
    baseline_path: str
    threshold: float = 0.1
    delta: int = 100

    def snapshot(self, df: DataFrame) -> DataFrame:
        return tdigest_snapshot(df, self.columns, self.delta)

    def check(self, df: DataFrame) -> list[dict]:
        """Returns one verdict dict per column:
        {column, ks, threshold, status}. The digest build is distributed;
        KS itself runs on the driver over O(delta) centroids per column.
        Raises ValueError if the baseline is not a t-digest snapshot."""
        base_df = load_snapshot(df.sparkSession, self.baseline_path)
        missing = [c for c in SNAPSHOT_COLUMNS if c not in base_df.columns]
        if missing:
            raise ValueError(
                f"drift baseline {self.baseline_path} is not a t-digest snapshot: "
                f"expected columns {list(SNAPSHOT_COLUMNS)}, missing {missing}"
            )
        base = {r["column"]: r for r in base_df.collect()}
        cur = tdigest_columns(df, self.columns, self.delta)
        out = []
        for c in self.columns:
            b = base.get(c)
            if b is None:
                out.append(
                    {"column": c, "ks": None, "threshold": self.threshold, "status": "no_baseline"}
                )
                continue
            d = ks_from_digests(np.asarray(b["means"]), np.asarray(b["weights"]), *cur[c])
            out.append(
                {
                    "column": c,
                    "ks": round(d, 6),
                    "threshold": self.threshold,
                    "status": "fail" if d > self.threshold else "pass",
                }
            )
        return out
