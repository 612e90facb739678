"""The workloads. Each one stages its inputs, runs one operation per call
to ``op`` and checks that operation's outputs afterwards, outside the
timed section.

- ``batch_validate``: ``ValidationEngine.run`` with every constraint family
  over the staged transcript table, verdicts and violations to parquet,
  then ``DriftConstraint.check`` against the baseline snapshot from set-up.
- ``parse_documents``: ``read_json_documents`` under the read type that
  ``json_schema.infer_read_schema`` elects for a transcript turn.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from benchmark import inputs, oracle

RUN_ID = "bench"


def family_kwargs(spark) -> dict[str, dict]:
    """The engine's constraint set, one entry per family."""
    from avro_conversions_spark.constraints import (
        ReferentialConstraint,
        SequenceConstraint,
        UniqueConstraint,
        enum_in,
        not_null,
        range_check,
    )
    from avro_conversions_spark.transcripts import ROLES, tool_catalog

    return {
        "row": {
            "row_constraints": [
                not_null("conv_id"),
                not_null("turn_idx"),
                enum_in("role", ROLES),
                range_check("turn_idx", 0, 2**31 - 1),
            ]
        },
        "unique": {"unique_constraints": [UniqueConstraint(("conv_id", "turn_idx"))]},
        "referential": {
            "referential_constraints": [
                ReferentialConstraint("tool", tool_catalog(spark), "tool_name")
            ]
        },
        "sequence": {"sequence_constraints": [SequenceConstraint()]},
    }


def make_engine(spark, families=("row", "unique", "referential", "sequence")):
    from avro_conversions_spark.engine import ValidationEngine

    kw = family_kwargs(spark)
    merged: dict = {}
    for f in families:
        merged.update(kw[f])
    return ValidationEngine(**merged)


def verdict_errors(rows, expected: dict[str, int], n_rows: int, what: str) -> list[str]:
    """Compare collected verdict rows with oracle counts."""
    got = {r["constraint"]: r["violation_count"] for r in rows}
    errs = oracle.mismatches(expected, got, what)
    for r in rows:
        if r["rows_checked"] != n_rows:
            errs.append(f"{what}: rows_checked {r['rows_checked']} != {n_rows}")
        if r["status"] != ("fail" if r["violation_count"] > 0 else "pass"):
            errs.append(f"{what}: status {r['status']} for count {r['violation_count']}")
    return errs


@dataclass
class Outcome:
    complete_s: float
    verdict_s: float
    out_dir: str
    extra: dict = field(default_factory=dict)
    cpu_s: float = 0.0  # CPU seconds of the whole process tree
    steal: float = 0.0  # share of the host's CPU time stolen meanwhile


class BatchValidate:
    name = "batch_validate"
    n_convs = 10_000
    # In a new JVM on local[2] an operation takes about 9.3, 5.6, 5.9, 5.6,
    # 4.4, then 4.4 down to 3.5 s by the tenth, as the JIT compiles the
    # driver's planning code. More warm-up would not fit the run's time.
    warmup_ops = 5

    def stage(self, spark, root, seed):
        from avro_conversions_spark.constraints.drift import DriftConstraint, save_snapshot

        self.table = os.path.join(root, "transcripts")
        inputs.stage_transcripts(spark, self.table, self.n_convs, seed)
        self.df = spark.read.parquet(self.table)
        self.engine = make_engine(spark)
        self.drift = DriftConstraint(["turn_idx"], baseline_path=os.path.join(root, "baseline"))
        save_snapshot(self.drift.snapshot(self.df), self.drift.baseline_path)
        self._expected = None
        self._convs = None

    def op(self, spark, out_dir) -> Outcome:
        t0 = time.perf_counter()
        res = self.engine.run(self.df, run_id=RUN_ID)
        verdicts = res.verdicts.collect()
        verdict_s = time.perf_counter() - t0
        spark.createDataFrame(verdicts, res.verdicts.schema).write.parquet(
            os.path.join(out_dir, "verdicts")
        )
        res.violations.write.parquet(os.path.join(out_dir, "violations"))
        drift = self.drift.check(self.df)
        with open(os.path.join(out_dir, "drift.json"), "w") as fh:
            json.dump(drift, fh)
        res.unpersist()
        complete_s = time.perf_counter() - t0
        return Outcome(complete_s, verdict_s, out_dir, {"verdicts": verdicts, "drift": drift})

    def expected(self) -> tuple[int, dict[str, int]]:
        if self._expected is None:
            self._expected = oracle.transcript_counts(self.table)
        return self._expected

    def turns(self):
        return self.expected()[0]

    def docs(self):
        """Each conversation is one transcript document."""
        if self._convs is None:
            self._convs = oracle.conversations(self.table)
        return self._convs

    def check(self, outcome):
        n, exp = self.expected()
        errs = verdict_errors(outcome.extra["verdicts"], exp, n, "verdicts")
        errs += oracle.mismatches(
            exp, oracle.violation_counts(os.path.join(outcome.out_dir, "violations")), "violations"
        )
        if oracle.parquet_rows(os.path.join(outcome.out_dir, "verdicts")) != len(exp):
            errs.append("verdicts parquet row count")
        # the baseline was snapshot from this very table: no drift
        for d in outcome.extra["drift"]:
            if d["status"] != "pass":
                errs.append(f"drift {d}")
        return errs


def parse_and_write(spark, json_dir, read, out_dir):
    """Parse, gate on the corrupt/violation counts, write typed rows.
    Returns (gate row, seconds to the gate, seconds to written output)."""
    from pyspark.sql import functions as F

    from avro_conversions_spark.sources.documents import read_json_documents

    t0 = time.perf_counter()
    df = read_json_documents(spark, json_dir, read)
    gate = df.agg(
        F.count(F.lit(1)).alias("docs"),
        F.count(F.when(F.col("_corrupt"), 1)).alias("corrupt"),
        F.sum(F.size("_violations")).alias("violations"),
    ).collect()[0]
    verdict_s = time.perf_counter() - t0
    df.write.parquet(os.path.join(out_dir, "typed"))
    return gate, verdict_s, time.perf_counter() - t0


def parse_errors(out_dir, gate, exp: inputs.JsonExpected) -> list[str]:
    errs = []
    if (gate["docs"], gate["corrupt"], gate["violations"]) != (
        exp.docs,
        exp.corrupt,
        sum(exp.violations.values()),
    ):
        errs.append(f"parse gate {gate.asDict()} vs {exp}")
    docs, corrupt, viol = oracle.parse_counts(os.path.join(out_dir, "typed"))
    if (docs, corrupt) != (exp.docs, exp.corrupt):
        errs.append(f"typed rows: {docs} docs / {corrupt} corrupt vs {exp}")
    errs += oracle.mismatches(exp.violations, viol, "parse violations")
    return errs


class ParseDocuments:
    name = "parse_documents"
    n_docs = 200_000
    # In a new JVM on local[2] an operation takes about 12.8, 4.0, 4.0, 3.9
    # and then 3.5-3.8 s.
    warmup_ops = 2

    def stage(self, spark, root, seed):
        from avro_conversions_spark.schema.json_schema import infer_read_schema

        self.json_dir = os.path.join(root, "json")
        self.exp = inputs.write_json_turns(self.json_dir, self.n_docs, seed)
        self.read, _ = infer_read_schema(inputs.TURN_SCHEMA)

    def op(self, spark, out_dir):
        gate, verdict_s, complete_s = parse_and_write(spark, self.json_dir, self.read, out_dir)
        return Outcome(complete_s, verdict_s, out_dir, {"gate": gate})

    def turns(self):
        """Each document is one turn."""
        return self.exp.docs

    def docs(self):
        return self.exp.docs

    def check(self, outcome):
        return parse_errors(outcome.out_dir, outcome.extra["gate"], self.exp)


WORKLOADS = {w.name: w for w in (BatchValidate, ParseDocuments)}
