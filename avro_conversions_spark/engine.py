"""ValidationEngine: compile a constraint set against an observed schema,
run it over a DataFrame, emit (verdicts, violations).

Execution shape (designed for 100 TB / 1000 executors; see SURVEY.md §3.3):

1. plan-time: every constraint's ``check_plan`` runs on the driver against
   the observed schema — incompatibilities fail fast with ResolvingFailure,
   exactly like the reference's resolver compile
   (opwvhk/avro/io/AsAvroParserBase.java:369-398).
2. row pass: ALL row constraints evaluate in ONE columnar scan — each row
   projects an array of violation structs, filtered and exploded
   (``constraints.core.row_violations``, shared with streaming). Catalyst
   prunes the scan to exactly the constrained + key columns and fuses the
   predicates into one WholeStageCodegen span. N constraints != N scans.
3. aggregate passes: uniqueness (one partial-aggregated groupBy: a hot
   key's reducer input is bounded by the map tasks), referential
   (broadcast anti join, or sort-merge with AQE's skew join), sequence
   (per-conversation window, bounded by conversation length) each
   contribute violation rows; their shuffles are keyed independently so AQE
   can size each exchange.
4. verdicts: ONE aggregate over the union of the input's partition key
   (a column-pruned read) and the cached violations' (partition,
   constraint) pairs gives rows_checked and one violation count per
   constraint for each partition; no join with the constraint names, and
   the partitions x constraints rows sort inside one task instead of a
   range-partitioned global sort.

Output schemas are frozen in FIXTURES.md §5; violation ordering is
canonical ``ORDER BY key..., constraint``. Observed values use the frozen
formatting spec of ``constraints.core.canonical_str`` so golden fixtures
byte-match (BASELINE.json:15).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from avro_conversions_spark.constraints.core import RowConstraint, row_violations
from avro_conversions_spark.constraints.referential import ReferentialConstraint
from avro_conversions_spark.constraints.sequence import SequenceConstraint
from avro_conversions_spark.constraints.uniqueness import UniqueConstraint
from avro_conversions_spark.session import persist_for_replay

# internal column name for the carried partition key (stripped from outputs)
_PART = "_acs_part"
# one verdict count row per (partition, constraint); the type pins the
# verdict schema's nullability: partition_key and constraint nullable
_VERDICT_COUNTS = T.ArrayType(
    T.StructType(
        [
            T.StructField("partition_key", T.StringType(), True),
            T.StructField("constraint", T.StringType(), True),
            T.StructField("violation_count", T.LongType(), False),
            T.StructField("rows_checked", T.LongType(), False),
        ]
    ),
    containsNull=False,
)


@dataclass
class ValidationResult:
    verdicts: DataFrame
    violations: DataFrame
    # handle on the persisted internal violations frame so callers (e.g.
    # the resumable ledger loop) can unpersist after materializing outputs.
    cached: DataFrame | None = None
    # handle on the pruned input projection when remoteStorage persisted it
    cached_input: DataFrame | None = None

    def unpersist(self) -> None:
        if self.cached is not None:
            self.cached.unpersist()
        if self.cached_input is not None:
            self.cached_input.unpersist()


@dataclass
class ValidationEngine:
    row_constraints: Sequence[RowConstraint] = ()
    unique_constraints: Sequence[UniqueConstraint] = ()
    referential_constraints: Sequence[ReferentialConstraint] = ()
    sequence_constraints: Sequence[SequenceConstraint] = ()
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx")
    partition_expr: Column | None = None  # verdict granularity; default global

    # ------------------------------------------------------------------ plan

    def check_plan(self, schema: T.StructType) -> None:
        for c in self.row_constraints:
            c.check_plan(schema)
        for cols in [u.columns for u in self.unique_constraints]:
            for col in cols:
                if col not in schema.fieldNames():
                    from avro_conversions_spark.schema.resolution import ResolvingFailure

                    raise ResolvingFailure(f"unique key column {col!r} absent")

    # ------------------------------------------------------------ agg passes

    def _agg_violations(self, df: DataFrame, part_col: str | None = None) -> list[DataFrame]:
        out: list[DataFrame] = []
        key_cols = list(self.key_cols)
        extra = [part_col] if part_col else []
        for u in self.unique_constraints:
            # partition attribution rides the uniqueness aggregation
            # (min(partition) per duplicated key) — no extra join, no extra
            # scan; deterministic "first partition lexicographically".
            v = u.violations(df, part_col=part_col)
            # uniqueness violations key on the duplicated key itself; pad any
            # missing engine key columns with nulls for a uniform schema
            missing = [k for k in key_cols if k not in v.columns]
            for m in missing:
                v = v.withColumn(m, F.lit(None).cast(df.schema[m].dataType))
            out.append(
                v.select(*key_cols, *extra, "constraint", "column", "reason", "observed")
            )
        for r in self.referential_constraints:
            # part_col is a plain column on df, so the violation projection
            # carries it through the anti-join for free
            out.append(r.violation_rows(df, key_cols + extra))
        for s in self.sequence_constraints:
            v = s.violations(df, extra_cols=tuple(extra))
            rename = {s.conv_col: key_cols[0], s.idx_col: key_cols[1]}
            for old, new in rename.items():
                if old != new:
                    v = v.withColumnRenamed(old, new)
            out.append(
                v.select(*key_cols, *extra, "constraint", "column", "reason", "observed")
            )
        return out

    # ------------------------------------------------------------------ run

    def violations_df(self, df: DataFrame, _part_col: str | None = None) -> DataFrame:
        parts: list[DataFrame] = []
        if self.row_constraints:
            extra = [_part_col] if _part_col else []
            parts.append(row_violations(df, self.row_constraints, [*self.key_cols, *extra]))
        parts.extend(self._agg_violations(df, part_col=_part_col))
        if not parts:
            raise ValueError("no constraints configured")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _needed_columns(self, df: DataFrame) -> list[str]:
        need = set(self.key_cols)
        need.update(c.column for c in self.row_constraints)
        for u in self.unique_constraints:
            need.update(u.columns)
        need.update(r.column for r in self.referential_constraints)
        for s in self.sequence_constraints:
            need.add(s.conv_col)
            need.add(s.idx_col)
            if s.ts_col:
                need.add(s.ts_col)
        return [c for c in df.columns if c in need]

    def run(self, df: DataFrame, run_id: str = "run-0") -> ValidationResult:
        self.check_plan(df.schema)
        part_expr = (
            self.partition_expr if self.partition_expr is not None else F.lit("global")
        ).cast("string")
        # carry partition_key THROUGH every constraint pass (free: same scan,
        # one extra small column) instead of joining violations back to a
        # full-table dropDuplicates — at 100 TB that join was an extra
        # whole-table exchange just to map violation -> partition.
        # The constraint families (row pass, uniqueness, referential,
        # sequence) and the verdict aggregate are independent consumers, each
        # re-decoding the source (5 scans of the pruned columns). Under
        # remoteStorage the PRUNED projection (constrained + key columns only;
        # a transcript table's text/payload never enters) is persisted so the
        # source is read ONCE. Measured on a LOCAL 42M-turn parquet table that
        # LOSES ~2x: vectorized re-decode out of the OS page cache is cheaper
        # than building + reading a deserialized columnar cache. Locally the
        # projection only restates the column pruning the optimizer does.
        pdf, input_persisted = persist_for_replay(
            df.withColumn(_PART, part_expr).select(*self._needed_columns(df), _PART)
        )

        # persist BEFORE the canonical orderBy: a global sort's range
        # partitioner SAMPLES its child, so an uncached child plan (every
        # constraint pass over the full table) would execute twice — once
        # for sampling, once for the sort. Cached, both read the small
        # violation set. Also lets the verdict aggregation below reuse it
        # (at 100 TB: one full scan, not three).
        vint = self.violations_df(pdf, _part_col=_PART).persist()
        violations = vint.select(
            F.lit(run_id).alias("run_id"),
            *self.key_cols,
            "constraint",
            "column",
            "reason",
            "observed",
        ).orderBy(*self.key_cols, "constraint")

        all_names = (
            [c.name for c in self.row_constraints]
            + [u.name for u in self.unique_constraints]
            + [r.name for r in self.referential_constraints]
            + [s.name for s in self.sequence_constraints]
        )
        # ONE aggregate over data the run already produces: every input row
        # (constraint NULL) and every violation row, grouped by partition.
        # Violations whose pass couldn't attribute a partition (e.g.
        # null-keyed) land in a dedicated bucket instead of being dropped.
        tagged = pdf.select(
            F.col(_PART).alias("partition_key"),
            F.lit(None).cast("string").alias("constraint"),
        ).unionByName(
            vint.select(
                F.coalesce(F.col(_PART), F.lit("unattributed")).alias("partition_key"),
                "constraint",
            )
        )
        counts = tagged.groupBy("partition_key").agg(
            F.count(F.when(F.col("constraint").isNull(), 1)).alias("rows_checked"),
            *[
                F.count(F.when(F.col("constraint") == n, 1)).alias(f"_v{i}")
                for i, n in enumerate(all_names)
            ],
        )
        # one count row per configured name, then the filter keeps every
        # name for every input partition (NULL key included) and a name in a
        # violation-only partition (e.g. ``unattributed``) only where it has
        # violations. coalesce(1) sits above the aggregate's exchange:
        # partitions x constraints rows, sorted without a range-sampling job.
        per_name = F.array(
            *[
                F.struct(
                    "partition_key",
                    F.lit(n).alias("constraint"),
                    F.col(f"_v{i}").alias("violation_count"),
                    "rows_checked",
                )
                for i, n in enumerate(all_names)
            ]
        ).cast(_VERDICT_COUNTS)
        verdicts = (
            counts.select(F.inline(per_name))
            .where((F.col("rows_checked") > 0) | (F.col("violation_count") > 0))
            .select(
                F.lit(run_id).alias("run_id"),
                "partition_key",
                "constraint",
                F.when(F.col("violation_count") > 0, F.lit("fail"))
                .otherwise(F.lit("pass"))
                .alias("status"),
                "violation_count",
                "rows_checked",
                F.create_map(
                    F.lit("engine"), F.lit("avro_conversions_spark"),
                ).alias("metrics"),
            )
            .coalesce(1)
            .sortWithinPartitions("partition_key", "constraint")
        )
        return ValidationResult(
            verdicts=verdicts,
            violations=violations,
            cached=vint,
            cached_input=pdf if input_persisted else None,
        )

    # ------------------------------------------------------------- repairs

    def repaired(self, df: DataFrame) -> DataFrame:
        """Apply every constraint's repair (e.g. enum default substitution,
        io/AsAvroParserBase.java:443) returning the cleaned DataFrame."""
        out = df
        for c in self.row_constraints:
            if c.repair is not None:
                out = out.withColumn(c.column, c.repair(F.col(c.column)))
        return out
