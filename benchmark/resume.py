"""One crash-and-resume cycle of ``ResumableValidation``.

A wrapper engine raises after half the hash buckets (the injected crash);
a second invocation over the same ``ParquetLedger`` resumes and finishes.
Subclasses of the ledger classes time their public steps without
changing them, and label each step's Spark jobs when tracing.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from benchmark import oracle
from benchmark.host import now
from benchmark.workloads import RUN_ID

N_CONVS = 4_000
N_BUCKETS = 4
CRASH_AFTER = 2


class InjectedCrash(RuntimeError):
    pass


@dataclass
class LedgerSpans:
    """Timings of one crash-and-resume cycle. ``describe`` (job
    description setter, or None) labels the Spark jobs of each phase."""

    describe: object = None
    run_starts: list[float] = field(default_factory=list)
    stage: list[float] = field(default_factory=list)
    pending: list[float] = field(default_factory=list)
    completed: list[float] = field(default_factory=list)
    commits: list[float] = field(default_factory=list)
    buckets: list[tuple[str, float, float]] = field(default_factory=list)
    _open: tuple[str, float] | None = None

    def label(self, name: str | None) -> None:
        if self.describe is not None:
            self.describe(name)

    def open_bucket(self) -> None:
        name = f"ledger.bucket#{len(self.buckets)}"
        self.label(name)
        self._open = (name, now())

    def close_bucket(self) -> None:
        name, start = self._open
        self.buckets.append((name, start, now()))
        self._open = None
        self.label("ledger.idle")


class BucketEngine:
    """Duck-typed engine for ``ResumableValidation``: opens a bucket span
    on every ``run`` and raises ``InjectedCrash`` once ``crash_after``
    buckets have run."""

    def __init__(self, engine, spans: LedgerSpans, crash_after: int | None = None):
        self.engine = engine
        self.spans = spans
        self.crash_after = crash_after
        self.calls = 0

    @property
    def key_cols(self):
        return self.engine.key_cols

    def run(self, df, run_id="run-0", **kw):
        if self.crash_after is not None and self.calls >= self.crash_after:
            raise InjectedCrash(f"injected crash after {self.calls} buckets")
        self.calls += 1
        self.spans.open_bucket()
        return self.engine.run(df, run_id=run_id, **kw)


def _timed_classes():
    """ParquetLedger / ResumableValidation subclasses that time the
    ledger's public steps without changing them."""
    from avro_conversions_spark.ledger import ParquetLedger, ResumableValidation

    @dataclass
    class TimedLedger(ParquetLedger):
        spans: LedgerSpans = None

        def completed(self, run_id):
            t = now()
            out = super().completed(run_id)
            self.spans.completed.append(now() - t)
            return out

        def commit(self, run_id, partition_key, rows, lineage):
            t = now()
            super().commit(run_id, partition_key, rows, lineage)
            self.spans.commits.append(now() - t)
            self.spans.close_bucket()

    @dataclass
    class TimedResume(ResumableValidation):
        spans: LedgerSpans = None

        def run(self, df, run_id, verdicts_path=None, violations_path=None):
            self.spans.run_starts.append(now())
            self.spans.label("ledger.stage")
            try:
                return super().run(df, run_id, verdicts_path, violations_path)
            finally:
                self.spans.label(None)

        def pending(self, df, run_id):
            t = now()
            self.spans.stage.append(t - self.spans.run_starts[-1])
            self.spans.label("ledger.pending")
            out = super().pending(df, run_id)
            self.spans.pending.append(now() - t)
            return out

    return TimedLedger, TimedResume


def crash_and_resume(spark, engine, df, out_dir: str, spans: LedgerSpans) -> dict:
    """The crashed invocation, then the resuming one, over ``df``.
    Returns the resuming invocation's wall and its {bucket: rows}."""
    TimedLedger, TimedResume = _timed_classes()
    ledger = TimedLedger(spark, os.path.join(out_dir, "ledger"), spans=spans)
    paths = {
        "verdicts_path": os.path.join(out_dir, "verdicts"),
        "violations_path": os.path.join(out_dir, "violations"),
    }

    def invocation(crash_after):
        return TimedResume(
            engine=BucketEngine(engine, spans, crash_after),
            ledger=ledger,
            n_buckets=N_BUCKETS,
            stage_path=os.path.join(out_dir, "stage"),
            spans=spans,
        )

    try:
        invocation(CRASH_AFTER).run(df, RUN_ID, **paths)
        raise AssertionError("the injected crash did not happen")
    except InjectedCrash:
        pass
    t = time.perf_counter()
    done = invocation(None).run(df, RUN_ID, **paths)
    return {"resume_s": time.perf_counter() - t, "done": done}


def resume_errors(out_dir: str, done: dict, expected) -> list[str]:
    """Both invocations together must have written what one engine run
    over the whole table reports, bucket by bucket."""
    n, exp = expected
    errs = []
    if len(done) != N_BUCKETS - CRASH_AFTER:
        errs.append(f"resume ran {len(done)} buckets, expected {N_BUCKETS - CRASH_AFTER}")
    counts, checked = oracle.verdict_sums(os.path.join(out_dir, "verdicts"))
    errs += oracle.mismatches(exp, counts, "bucket verdicts")
    if checked != n:
        errs.append(f"bucket rows_checked {checked} != {n}")
    errs += oracle.mismatches(
        exp, oracle.violation_counts(os.path.join(out_dir, "violations")), "bucket violations"
    )
    if oracle.parquet_rows(os.path.join(out_dir, "ledger")) != N_BUCKETS:
        errs.append("ledger does not hold one watermark per bucket")
    return errs
