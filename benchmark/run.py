"""Validator benchmark: one workload per invocation, run from the root of
a checkout.

    python3 benchmark/run.py --workload batch_validate --seed 1 --seconds 20 --trace 0
    python3 benchmark/run.py --workload all --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
holds the run record (host, load average before and after, code sha, every
operation's figures, CPU time stolen by the hypervisor). See benchmark/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
E2E_UNITS = {
    "setup_s": "s",
    "complete_s": "s",
    "turns_per_s": "turns/s",
    "docs_per_s": "docs/s",
    "peak_rss_mb": "MB",
}
WORKLOAD_NAMES = ("batch_validate", "parse_documents")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def setup(wl, scratch: str, seed: int):
    """Start a session, stage the inputs and run ``wl.warmup_ops`` untimed
    operations, so that the JIT has compiled the hot code before timing.
    Returns the session, the seconds all of that took and the seconds the
    session start took."""
    from benchmark import host

    t0 = time.perf_counter()
    spark = host.start_session(scratch)
    session_s = time.perf_counter() - t0
    wl.stage(spark, os.path.join(scratch, "in"), seed)
    for i in range(wl.warmup_ops):
        wl.op(spark, os.path.join(scratch, f"warm{i}"))
    return spark, time.perf_counter() - t0, session_s


def timed_loop(wl, spark, out_root: str, seconds: float, describe=None):
    """Run ``wl.op`` back to back for about ``seconds``: a new operation
    starts only if a typical one still fits. Returns (outcomes, errors of
    operations that raised)."""
    from benchmark import host

    outcomes, raised = [], []
    start = time.perf_counter()
    while True:
        it_dir = os.path.join(out_root, f"it{len(outcomes) + len(raised)}")
        if describe is not None:
            describe(f"workload.{wl.name}")
        cpu0, ticks0 = host.tree_usage(os.getpid())[0], host.cpu_ticks()
        try:
            o = wl.op(spark, it_dir)
            o.cpu_s = host.tree_usage(os.getpid())[0] - cpu0
            o.steal = host.steal_share(ticks0, host.cpu_ticks())
            outcomes.append(o)
        except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
            raised.append(traceback.format_exc(limit=3))
        finally:
            if describe is not None:
                describe(None)
        elapsed = time.perf_counter() - start
        typical = statistics.median(o.complete_s for o in outcomes) if outcomes else 0.0
        if not outcomes and len(raised) >= 3 or elapsed + typical > seconds:
            return outcomes, raised


def checked(wl, outcomes, raised):
    """(attempted, failed, errors) after checking every operation's output."""
    errors = list(raised)
    failed = len(raised)
    for o in outcomes:
        errs = wl.check(o)
        if errs:
            failed += 1
            errors.extend(errs)
    return len(outcomes) + len(raised), failed, errors


def untraced_run(wl, args, scratch: str, record: dict) -> dict:
    from benchmark import host

    spark, setup_s, _ = setup(wl, scratch, args.seed)
    ticks = host.cpu_ticks()
    with host.RssSampler() as rss:
        outcomes, raised = timed_loop(wl, spark, os.path.join(scratch, "timed"), args.seconds)
    record["timed_steal_share"] = host.steal_share(ticks, host.cpu_ticks())
    if not outcomes:
        raise RuntimeError("every operation raised:\n" + "\n".join(raised))
    attempted, failed, errors = checked(wl, outcomes, raised)
    complete = statistics.median(o.complete_s for o in outcomes)
    values = {
        "setup_s": setup_s,
        "complete_s": complete,
        "turns_per_s": wl.turns() / complete,
        "docs_per_s": wl.docs() / complete,
        "peak_rss_mb": rss.peak_mb,
    }
    record.update(
        complete_s=[o.complete_s for o in outcomes],
        verdict_s=[o.verdict_s for o in outcomes],
        cpu_s=[o.cpu_s for o in outcomes],
        steal_share=[o.steal for o in outcomes],
        turns=wl.turns(),
        docs=wl.docs(),
        error_rate=failed / attempted,
        errors=errors[:20],
    )
    return result(attempted, failed, {k: (v, E2E_UNITS[k]) for k, v in values.items()})


def traced_run(wl, args, scratch: str, record: dict) -> dict:
    """Untraced operations, then in a new SparkContext with the event log
    on the same operations and the layer sweep. Each of the two timed
    loops gets half of ``--seconds``, which keeps the run within its time.
    The second context runs in the JVM the first one warmed up."""
    from benchmark import eventlog, host, layers

    half = args.seconds / 2
    spark, _, session_s = setup(wl, scratch, args.seed)
    untraced, raised_u = timed_loop(wl, spark, os.path.join(scratch, "untraced"), half)
    spark.stop()

    ev_dir = os.path.join(scratch, "eventlog")
    spark = host.start_session(scratch, eventlog_dir=ev_dir)
    tr = layers.Tracer(spark.sparkContext)
    with tr.span("workload.stage"):
        wl.stage(spark, os.path.join(scratch, "traced_in"), args.seed)
    traced, raised_t = timed_loop(
        wl, spark, os.path.join(scratch, "traced"), half, describe=tr.describe
    )
    sweep = layers.SWEEPS[wl.name]
    vals, sweep_errors = sweep(spark, tr, os.path.join(scratch, "sweep"), args.seed)
    spark.stop()

    (log_file,) = [os.path.join(ev_dir, f) for f in os.listdir(ev_dir)]
    work = eventlog.attribute(eventlog.read_events(log_file))
    if not untraced or not traced:
        raise RuntimeError("every operation raised:\n" + "\n".join(raised_u + raised_t))
    attempted, failed, errors = checked(wl, untraced + traced, raised_u + raised_t)
    attempted += 1
    if sweep_errors:
        failed += 1
        errors += sweep_errors

    u = statistics.median(o.complete_s for o in untraced)
    t = statistics.median(o.complete_s for o in traced)
    vals.update(
        {
            "session.start_s": session_s,
            "trace.untraced_complete_s": u,
            "trace.traced_complete_s": t,
            "trace.overhead_s": t - u,
        }
    )
    m = layers.layer_metrics(tr, work, vals)
    units = {name: unit for name, unit, _ in layers.per_layer_spec()}
    record.update(
        untraced_complete_s=[o.complete_s for o in untraced],
        traced_complete_s=[o.complete_s for o in traced],
        untraced_jobs=work.get(eventlog.UNTRACED, eventlog.LayerWork()).jobs,
        error_rate=failed / attempted,
        errors=errors[:20],
    )
    return result(attempted, failed, {k: (m[k], units[k]) for k in units})


def result(attempted: int, failed: int, metrics: dict) -> dict:
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def run_all(args) -> int:
    """Each workload in its own process, one after another."""
    results = {}
    for name in WORKLOAD_NAMES:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
        ]
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if out.returncode != 0:
            log(f"{name}: exit code {out.returncode}")
            return out.returncode
        results[name] = json.loads(out.stdout.strip().splitlines()[-1])
        for metric, v in results[name]["metrics"].items():
            log(f"{name:16s} {metric:36s} {v['value']:>14.4f} {v['unit']}")
        r = results[name]
        log(f"{name:16s} {'error_rate':36s} {r['failed'] / r['attempted']:>14.4f} ratio")
    print(json.dumps(results))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "avro_conversions_spark", "__init__.py")):
        log("avro_conversions_spark/ is missing from this checkout: nothing to measure")
        return 2
    if args.workload == "all":
        return run_all(args)
    # import the benchmark as a package from the checkout root, not its
    # modules from the script's own directory
    sys.path[0] = ROOT
    from benchmark import host
    from benchmark.workloads import WORKLOADS

    scratch = os.path.join(ROOT, ".bench_build", f"run-{os.getpid()}")
    host.prepare_env(scratch)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    record.update(host.host_record(ROOT))
    wl = WORKLOADS[args.workload]()
    try:
        run = traced_run if args.trace else untraced_run
        out = run(wl, args, scratch, record)
    finally:
        host.shutdown_jvm()
        shutil.rmtree(scratch, ignore_errors=True)
    record["loadavg_after"] = list(os.getloadavg())
    print(json.dumps({"record": record}, default=str))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
