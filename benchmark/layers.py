"""The traced run's layer sweep and the per-layer metrics it yields.

Every traced call runs with ``spark.job.description`` set to its layer
name, and the name is cleared afterwards (a description left set labels
every later job). After the session stops, ``eventlog.attribute`` maps the
log's jobs, stages and tasks back to those names.

For each call C in ``CALLS`` the sweep reports six measures:
``C_s`` (wall), ``C.driver_s`` (wall not covered by C's jobs), ``C.jobs``,
``C.shuffle_bytes``, ``C.executor_busy_s`` and ``C.failed_tasks``.
``ledger.bucket`` is one call per bucket and reports the median bucket
(failed tasks summed). The ``operators.*`` calls each run one curation
query over seeded ``documents``/``embeddings`` tables and sink its result
through Arrow.
"""

from __future__ import annotations

import os
import statistics
from contextlib import contextmanager

from benchmark import eventlog, inputs, oracle, resume
from benchmark.host import now
from benchmark.workloads import (
    RUN_ID,
    BatchValidate,
    ParseDocuments,
    make_engine,
    parse_and_write,
    parse_errors,
    verdict_errors,
)

FAMILIES = ("row", "unique", "referential", "sequence")
ENGINE_CALLS = ("engine.build", "engine.verdicts", "engine.violations")
OPERATORS = {
    "operators.dedup_keep_best": "dedup_keep_best_documents",
    "operators.semdedup": "semdedup_embeddings",
    "operators.quality_classifier": "quality_classifier_documents",
}
CALLS = (
    *ENGINE_CALLS,
    *(f"constraints.{f}" for f in FAMILIES),
    "constraints.drift",
    "ledger.bucket",
    "sources.parse",
    *OPERATORS,
)
MEASURES = (
    ("_s", "s"),
    (".driver_s", "s"),
    (".jobs", "count"),
    (".shuffle_bytes", "bytes"),
    (".executor_busy_s", "s"),
    (".failed_tasks", "count"),
)
EXTRAS = (
    ("engine.jobs", "count", "lower"),
    ("engine.spill_bytes", "bytes", "lower"),
    ("engine.gc_s", "s", "lower"),
    ("engine.task_skew", "ratio", "lower"),
    ("engine.violation_rows", "count", "lower"),
    ("ledger.pending_s", "s", "lower"),
    ("ledger.stage_s", "s", "lower"),
    ("ledger.commit_s", "s", "lower"),
    ("ledger.completed_s", "s", "lower"),
    ("ledger.bucket_max_s", "s", "lower"),
    ("ledger.resume_s", "s", "lower"),
    ("ledger.buckets_run", "count", "lower"),
    ("ledger.buckets_skipped", "count", "higher"),
    ("ledger.bytes_written", "bytes", "lower"),
    ("sources.corrupt_docs", "count", "lower"),
    ("sources.violation_rows", "count", "lower"),
    ("schema.infer_read_s", "s", "lower"),
    ("schema.resolve_s", "s", "lower"),
    ("session.start_s", "s", "lower"),
    ("transcripts.stage_s", "s", "lower"),
    ("constraints.drift_snapshot_s", "s", "lower"),
    ("trace.untraced_complete_s", "s", "lower"),
    ("trace.traced_complete_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
)


def per_layer_spec() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    spec = [(c + suffix, unit, "lower") for c in CALLS for suffix, unit in MEASURES]
    return spec + list(EXTRAS)


class Tracer:
    """Labels Spark jobs with a layer name and keeps each call's span."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: dict[str, list[tuple[float, float]]] = {}

    def describe(self, name: str | None) -> None:
        self.sc.setJobDescription(name)

    @contextmanager
    def span(self, name: str):
        self.describe(name)
        start = now()
        try:
            yield
        finally:
            self.spans.setdefault(name, []).append((start, now()))
            self.describe(None)

    def wall(self, name: str) -> float:
        return sum(e - s for s, e in self.spans.get(name, ()))


def call_measures(name: str, spans, work: eventlog.LayerWork | None) -> dict[str, float]:
    w = work or eventlog.LayerWork()
    wall = sum(e - s for s, e in spans)
    covered = sum(eventlog.covered_s(w.job_intervals, s, e) for s, e in spans)
    return {
        f"{name}_s": wall,
        f"{name}.driver_s": max(0.0, wall - covered),
        f"{name}.jobs": w.jobs,
        f"{name}.shuffle_bytes": w.shuffle_bytes,
        f"{name}.executor_busy_s": w.executor_busy_s,
        f"{name}.failed_tasks": w.failed_tasks,
    }


def _bytes_under(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _constraint_names(engine) -> list[str]:
    return [
        c.name
        for group in (
            engine.row_constraints,
            engine.unique_constraints,
            engine.referential_constraints,
            engine.sequence_constraints,
        )
        for c in group
    ]


def validator_sweep(spark, tr: Tracer, root: str, seed: int) -> tuple[dict, list[str]]:
    """Run the engine, constraint, drift and ledger calls once over this
    seed's transcript table. Returns the values only the sweep knows, and
    correctness errors."""
    from avro_conversions_spark.constraints.drift import DriftConstraint, save_snapshot

    vals: dict = {}
    errs: list[str] = []

    table = os.path.join(root, "transcripts")
    with tr.span("transcripts.stage"):
        inputs.stage_transcripts(spark, table, BatchValidate.n_convs, seed)
    df = spark.read.parquet(table)
    n, exp = oracle.transcript_counts(table)
    drift = DriftConstraint(["turn_idx"], baseline_path=os.path.join(root, "baseline"))
    with tr.span("constraints.drift_snapshot"):
        save_snapshot(drift.snapshot(df), drift.baseline_path)

    engine = make_engine(spark)
    violations_dir = os.path.join(root, "violations")
    with tr.span("engine.build"):
        res = engine.run(df, run_id=RUN_ID)
    with tr.span("engine.verdicts"):
        verdicts = res.verdicts.collect()
    with tr.span("engine.violations"):
        res.violations.write.parquet(violations_dir)
    res.unpersist()
    errs += verdict_errors(verdicts, exp, n, "engine verdicts")
    errs += oracle.mismatches(exp, oracle.violation_counts(violations_dir), "engine violations")
    vals["engine.violation_rows"] = oracle.parquet_rows(violations_dir)

    for fam in FAMILIES:
        single = make_engine(spark, (fam,))
        out = os.path.join(root, f"violations_{fam}")
        with tr.span(f"constraints.{fam}"):
            r = single.run(df, run_id=RUN_ID)
            rows = r.verdicts.collect()
            r.violations.write.parquet(out)
            r.unpersist()
        fam_exp = {k: exp[k] for k in _constraint_names(single)}
        errs += verdict_errors(rows, fam_exp, n, f"constraints.{fam}")

    with tr.span("constraints.drift"):
        drift_rows = drift.check(df)
    errs += [f"drift {d}" for d in drift_rows if d["status"] != "pass"]

    rtable = os.path.join(root, "resume_transcripts")
    with tr.span("ledger.input"):
        inputs.stage_transcripts(spark, rtable, resume.N_CONVS, seed)
    rdf = spark.read.parquet(rtable)
    spans = resume.LedgerSpans(tr.describe)
    ledger_dir = os.path.join(root, "ledger_run")
    r = resume.crash_and_resume(spark, engine, rdf, ledger_dir, spans)
    tr.describe(None)
    errs += resume.resume_errors(ledger_dir, r["done"], oracle.transcript_counts(rtable))
    vals.update(
        {
            "ledger.spans": spans,
            "ledger.pending_s": statistics.median(spans.pending),
            "ledger.stage_s": spans.stage[0],
            "ledger.commit_s": statistics.median(spans.commits),
            "ledger.completed_s": statistics.median(spans.completed),
            "ledger.bucket_max_s": max(e - s for _, s, e in spans.buckets),
            "ledger.resume_s": r["resume_s"],
            "ledger.buckets_run": len(r["done"]),
            "ledger.buckets_skipped": resume.N_BUCKETS - len(r["done"]),
            "ledger.bytes_written": _bytes_under(ledger_dir),
        }
    )
    return vals, errs


def documents_sweep(spark, tr: Tracer, root: str, seed: int) -> tuple[dict, list[str]]:
    """Run the schema, sources and curation-operator calls once over this
    seed's documents. Returns the values only the sweep knows, and
    correctness errors."""
    from pyspark.sql import types as T

    from avro_conversions_spark.operators.queries import QUERIES
    from avro_conversions_spark.schema.json_schema import infer_read_schema
    from avro_conversions_spark.schema.resolution import SchemaResolver, from_spark_schema

    vals: dict = {}
    errs: list[str] = []

    json_dir = os.path.join(root, "json")
    json_exp = inputs.write_json_turns(json_dir, ParseDocuments.n_docs, seed)
    with tr.span("schema.infer_read"):
        read, _ = infer_read_schema(inputs.TURN_SCHEMA)
    with tr.span("schema.resolve"):
        tokenized = T.StructType([T.StructField(f.name, T.StringType()) for f in read.fields])
        SchemaResolver(strict_nullability=False, trust_reader=True).resolve_record(
            from_spark_schema(tokenized, {"ts": {"format": "date-time"}}), read
        )
    parse_dir = os.path.join(root, "parse")
    with tr.span("sources.parse"):
        gate, _, _ = parse_and_write(spark, json_dir, read, parse_dir)
    errs += parse_errors(parse_dir, gate, json_exp)
    vals["sources.corrupt_docs"] = gate["corrupt"]
    vals["sources.violation_rows"] = gate["violations"]

    curation_dir = os.path.join(root, "curation")
    inputs.write_curation_tables(curation_dir, seed)
    for call, query in OPERATORS.items():
        with tr.span(call):
            got = QUERIES[query](spark, curation_dir).toArrow()
        errs += oracle.curation_errors(curation_dir, query, got)
    return vals, errs


# Each workload's traced run sweeps the layers that dominate it, which keeps
# a traced run under three minutes. A layer a workload does not sweep reads
# zero there.
SWEEPS = {"batch_validate": validator_sweep, "parse_documents": documents_sweep}


def layer_metrics(tr: Tracer, work: dict[str, eventlog.LayerWork], vals: dict) -> dict:
    """Every per-layer metric from the spans, the attributed event log
    and the sweep's own values; zero for a layer that was not swept."""
    m: dict[str, float] = {name: 0 for name, _, _ in per_layer_spec()}
    for name in CALLS:
        if name != "ledger.bucket":
            m.update(call_measures(name, tr.spans.get(name, ()), work.get(name)))

    spans = vals.get("ledger.spans")
    buckets = [
        call_measures("ledger.bucket", [(s, e)], work.get(bname))
        for bname, s, e in (spans.buckets if spans else ())
    ] or [call_measures("ledger.bucket", (), None)]
    for key in buckets[0]:
        xs = [b[key] for b in buckets]
        m[key] = sum(xs) if key.endswith("failed_tasks") else statistics.median(xs)

    engine = [work.get(c) or eventlog.LayerWork() for c in ENGINE_CALLS]
    merged = eventlog.LayerWork()
    for w in engine:
        merged.task_run_ms.update(w.task_run_ms)
    m["engine.jobs"] = sum(w.jobs for w in engine)
    m["engine.spill_bytes"] = sum(w.spill_bytes for w in engine)
    m["engine.gc_s"] = sum(w.gc_s for w in engine)
    m["engine.task_skew"] = merged.largest_stage_skew()

    m["schema.infer_read_s"] = tr.wall("schema.infer_read")
    m["schema.resolve_s"] = tr.wall("schema.resolve")
    m["transcripts.stage_s"] = tr.wall("transcripts.stage")
    m["constraints.drift_snapshot_s"] = tr.wall("constraints.drift_snapshot")
    m.update({k: v for k, v in vals.items() if k != "ledger.spans"})
    return m
