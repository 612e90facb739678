"""Reader for Spark's JSON event log that attributes work to layer names.

The benchmark sets ``spark.job.description`` to a layer name around each
traced call. Every job, stage and task carries that description in the
log, so per description this reader sums:

- jobs, and the wall intervals they ran in;
- bytes written to shuffle, bytes spilled to disk;
- executor run time and JVM GC time;
- failed tasks;
- per stage, the run time of each task (for skew).

The log must be uncompressed (``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

UNTRACED = ""


@dataclass
class LayerWork:
    jobs: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    executor_busy_s: float = 0.0
    gc_s: float = 0.0
    failed_tasks: int = 0
    task_run_ms: dict[int, list[int]] = field(default_factory=dict)  # stage -> tasks

    def largest_stage_skew(self) -> float:
        """max ÷ median task run time in the stage with the most run time;
        1.0 when there are no tasks."""
        if not self.task_run_ms:
            return 1.0
        tasks = max(self.task_run_ms.values(), key=sum)
        med = statistics.median(tasks)
        return max(tasks) / med if med > 0 else 1.0


def read_events(path: str):
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if line.strip():
                yield json.loads(line)


def attribute(events) -> dict[str, LayerWork]:
    """{job description: LayerWork}; jobs without a description land
    under ``UNTRACED``. Times are epoch seconds, as in the log."""
    out: dict[str, LayerWork] = {}
    stage_desc: dict[int, str] = {}
    job_desc: dict[int, str] = {}
    job_start: dict[int, float] = {}

    def layer(desc: str) -> LayerWork:
        return out.setdefault(desc, LayerWork())

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description") or UNTRACED
            jid = e["Job ID"]
            job_desc[jid] = desc
            job_start[jid] = e["Submission Time"] / 1000.0
            for sid in e.get("Stage IDs", ()):
                stage_desc.setdefault(sid, desc)
            layer(desc).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_start:
                layer(job_desc[jid]).job_intervals.append(
                    (job_start[jid], e["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            desc = (e.get("Properties") or {}).get("spark.job.description")
            if desc is not None:
                stage_desc[sid] = desc
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            w = layer(stage_desc.get(sid, UNTRACED))
            info = e.get("Task Info") or {}
            reason = (e.get("Task End Reason") or {}).get("Reason", "Success")
            if info.get("Failed") or reason != "Success":
                w.failed_tasks += 1
            m = e.get("Task Metrics") or {}
            run_ms = int(m.get("Executor Run Time", 0))
            w.executor_busy_s += run_ms / 1000.0
            w.gc_s += m.get("JVM GC Time", 0) / 1000.0
            w.spill_bytes += int(m.get("Disk Bytes Spilled", 0))
            w.shuffle_bytes += int(
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            )
            w.task_run_ms.setdefault(sid, []).append(run_ms)
    return out


def covered_s(intervals, start: float, end: float) -> float:
    """Length of the union of ``intervals`` clipped to [start, end]."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals if b > start and a < end)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
