"""The event-log reader on a small recorded log, the RSS peak rule, and the
metric names ``BENCHMARK.json`` promises against the names the code emits.

The log was recorded from a local Spark 4.1 session running four actions:
``layer.scan`` (a sum over 2 partitions), ``layer.shuffle`` (a group-by over
4 partitions), ``layer.fail`` (an ``assert_true`` that fails one task) and
a count without a description. With adaptive execution every aggregation
runs as two jobs: the map stage, then the final stage. Only the fields the
reader uses were kept.

Run: python3 -m pytest benchmark -q
"""

from __future__ import annotations

import json
import os
import time

from benchmark import eventlog, host, layers, run

HERE = os.path.dirname(os.path.abspath(__file__))
LOG = os.path.join(HERE, "testdata", "eventlog_small.jsonl")


def _work():
    return eventlog.attribute(eventlog.read_events(LOG))


def test_jobs_land_under_their_description():
    work = _work()
    assert set(work) == {"layer.scan", "layer.shuffle", "layer.fail", eventlog.UNTRACED}
    assert {k: w.jobs for k, w in work.items()} == {
        "layer.scan": 2,
        "layer.shuffle": 2,
        "layer.fail": 1,
        eventlog.UNTRACED: 2,
    }
    for w in work.values():
        assert len(w.job_intervals) == w.jobs
        assert all(b >= a for a, b in w.job_intervals)


def test_shuffle_failures_and_busy_time():
    work = _work()
    assert work["layer.fail"].shuffle_bytes == 0
    # partial sums are one row per task; the group-by writes one per key
    assert work["layer.shuffle"].shuffle_bytes > work["layer.scan"].shuffle_bytes > 0
    assert work["layer.fail"].failed_tasks == 1
    assert sum(w.failed_tasks for w in work.values()) == 1
    # one task per partition in each map stage, one task per final stage
    assert sorted(len(t) for t in work["layer.scan"].task_run_ms.values()) == [1, 2]
    assert sorted(len(t) for t in work["layer.shuffle"].task_run_ms.values()) == [1, 4]
    for w in work.values():
        ms = sum(sum(t) for t in w.task_run_ms.values())
        assert abs(w.executor_busy_s - ms / 1000.0) < 1e-9


def test_task_totals_match_the_raw_log():
    """Every task in the log is attributed exactly once."""
    tasks, shuffle = 0, 0
    for e in eventlog.read_events(LOG):
        if e["Event"] == "SparkListenerTaskEnd":
            tasks += 1
            shuffle += e["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"]
    work = _work()
    assert sum(len(t) for w in work.values() for t in w.task_run_ms.values()) == tasks
    assert sum(w.shuffle_bytes for w in work.values()) == shuffle


def test_covered_s_unions_and_clips():
    assert eventlog.covered_s([], 0, 10) == 0
    assert eventlog.covered_s([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert eventlog.covered_s([(-5, 2), (9, 20)], 0, 10) == 3
    assert eventlog.covered_s([(11, 12)], 0, 10) == 0


def test_skew_of_the_stage_with_most_time():
    w = eventlog.LayerWork(task_run_ms={0: [1, 1, 1], 1: [10, 10, 40]})
    assert w.largest_stage_skew() == 4.0
    assert eventlog.LayerWork().largest_stage_skew() == 1.0


def test_call_measures_driver_time_excludes_jobs():
    w = eventlog.LayerWork(jobs=2, job_intervals=[(1.0, 2.0), (1.5, 3.0)])
    m = layers.call_measures("x", [(0.0, 4.0)], w)
    assert m["x_s"] == 4.0
    assert m["x.driver_s"] == 2.0
    assert m["x.jobs"] == 2


def test_rss_peak_ignores_a_single_sample():
    r = host.RssSampler()
    for kb in (100, 120, 250, 130, 125, 140, 90):
        r.observe(kb)
    assert r.peak_kb == 130  # 250 and 140 each lasted one sample


def test_rss_peak_of_a_live_process_tree():
    with host.RssSampler(interval_s=0.01) as r:
        time.sleep(0.1)
    assert r.peak_kb > 0


def test_benchmark_json_names_what_the_code_emits():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(x) for x in layers.per_layer_spec()
    ]
