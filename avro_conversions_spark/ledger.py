"""Watermark / lineage ledger: resumable validation runs
(SURVEY.md build plan step 7; FIXTURES.md §5 `watermarks` schema).

The engine validates a huge table partition-by-partition (logical
partitions = hash buckets of conv_id, or a physical partition column such
as a date). After each partition's verdicts are written, a watermark row
commits to the ledger. A re-run anti-joins pending partitions against
completed watermarks and skips finished work — idempotent resume with
per-partition lineage and metrics.

Storage is an interface with a parquet implementation: Iceberg's
metadata tables would serve the same role (the Iceberg runtime jar is not
available offline in this sandbox; the design is storage-agnostic per
SURVEY.md §7 'Hard parts'). Parquet commits are made atomic per-partition
by writing each watermark as its own file under the ledger directory —
append semantics without table-level transactions.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WATERMARK_SCHEMA = (
    "run_id string, partition_key string, completed_ts timestamp, rows long, lineage string"
)


@dataclass
class ParquetLedger:
    """Append-only watermark ledger backed by a parquet directory."""

    spark: SparkSession
    path: str

    def read(self) -> DataFrame:
        try:
            return self.spark.read.schema(WATERMARK_SCHEMA).parquet(self.path)
        except Exception:  # noqa: BLE001 — missing dir on first run
            return self.spark.createDataFrame([], WATERMARK_SCHEMA)

    def commit(self, run_id: str, partition_key: str, rows: int, lineage: str) -> None:
        """One watermark row, its own parquet file (atomic append)."""
        row = [(run_id, partition_key, None, int(rows), lineage)]
        df = self.spark.createDataFrame(row, WATERMARK_SCHEMA).withColumn(
            "completed_ts", F.current_timestamp()
        )
        df.coalesce(1).write.mode("append").parquet(self.path)

    def completed(self, run_id: str) -> set[str]:
        return {
            r.partition_key
            for r in self.read().where(F.col("run_id") == run_id).select("partition_key").collect()
        }


@dataclass
class ResumableValidation:
    """Drive a ValidationEngine over logical partitions with checkpointing.

    Partitions are ``pmod(xxhash64(conv_id), n_buckets)`` by default —
    deterministic, stable across runs and cluster sizes. On resume,
    completed buckets are skipped entirely; Catalyst pushes the bucket
    predicate into the scan, so skipped buckets still cost a read of the
    pruned column only (with a physical partition column they cost
    nothing: partition pruning).
    """

    engine: "object"  # ValidationEngine (duck-typed to avoid import cycle)
    ledger: ParquetLedger
    n_buckets: int = 16
    partition_col: str | None = None  # physical partition column, if any
    # staging path for hash-bucket mode: the computed bucket predicate
    # cannot prune parquet, so without staging every bucket re-scans the
    # FULL table (N buckets -> N full scans). Staging materializes the
    # bucket column ONCE (one full scan, partitioned write); each bucket
    # then reads only its own partition directory. With a physical
    # partition_col this is unnecessary — partition pruning is free.
    stage_path: str | None = None

    def _bucket_expr(self, df: DataFrame):
        if self.partition_col:
            return F.col(self.partition_col).cast("string")
        key0 = self.engine.key_cols[0]
        return F.pmod(F.xxhash64(key0), F.lit(self.n_buckets)).cast("string")

    def pending(self, df: DataFrame, run_id: str) -> list[str]:
        done = self.ledger.completed(run_id)
        if self.partition_col:
            keys = [
                r.pk
                for r in df.select(self._bucket_expr(df).alias("pk")).distinct().collect()
            ]
        else:
            keys = [str(i) for i in range(self.n_buckets)]
        return [k for k in sorted(keys) if k not in done]

    def _staged_source(self, df: DataFrame) -> tuple[DataFrame, F.Column]:
        """Return (source frame, bucket filter column) such that filtering
        on one bucket prunes files instead of re-scanning the table."""
        if self.partition_col:
            return df, self._bucket_expr(df)
        if not self.stage_path:
            return df, self._bucket_expr(df)
        spark = df.sparkSession
        jvm = spark._jvm  # noqa: SLF001 — hadoop FS existence check
        hpath = jvm.org.apache.hadoop.fs.Path(self.stage_path + "/_SUCCESS")
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
        if not fs.exists(hpath):
            # one full scan; deterministic bucket expr, so a crashed stage
            # is simply rewritten (overwrite) and a finished one is reused
            df.withColumn("_bucket", self._bucket_expr(df)).write.mode(
                "overwrite"
            ).partitionBy("_bucket").parquet(self.stage_path)
        staged = spark.read.parquet(self.stage_path)
        return staged, F.col("_bucket").cast("string")

    def run(
        self,
        df: DataFrame,
        run_id: str,
        verdicts_path: str | None = None,
        violations_path: str | None = None,
    ) -> dict:
        """Validate pending partitions; commit a watermark after each.
        Returns {partition_key: rows_checked}. Effectively-once outputs:
        verdicts/violations are written partitioned by partition_key with
        dynamic partition OVERWRITE, so a crash between the write and the
        watermark commit re-runs the bucket and *replaces* (not duplicates)
        its output files on resume."""
        src, bucket = self._staged_source(df)
        done: dict[str, int] = {}
        for pk in self.pending(df, run_id):
            part_df = src.where(bucket == F.lit(pk))
            res = self.engine.run(part_df, run_id=run_id)
            if verdicts_path:
                res.verdicts.withColumn("partition_key", F.lit(pk)).write.mode(
                    "overwrite"
                ).option("partitionOverwriteMode", "dynamic").partitionBy(
                    "partition_key"
                ).parquet(verdicts_path)
            if violations_path:
                res.violations.withColumn("partition_key", F.lit(pk)).write.mode(
                    "overwrite"
                ).option("partitionOverwriteMode", "dynamic").partitionBy(
                    "partition_key"
                ).parquet(violations_path)
            rows, n_viol = res.verdicts.agg(
                F.max("rows_checked"), F.sum("violation_count")
            ).collect()[0]
            rows, n_viol = rows or 0, n_viol or 0
            res.unpersist()  # drop the bucket's cached violations
            self.ledger.commit(
                run_id,
                pk,
                rows,
                lineage=f"engine=avro_conversions_spark;violations={n_viol};ts={int(time.time())}",
            )
            done[pk] = rows
        return done
