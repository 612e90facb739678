"""Per-constraint-family scaling profile of the engine job: run each
family in isolation at two parallelism levels over the staged 42M-turn
table, print per-stage wall + pairwise thread-scaling. Identifies WHICH
stage caps multi-core scaling (memory-bandwidth-bound stages scale worst).

Usage: python tools/profile_stages.py [lo] [hi]   (default 2 8)
Each measurement is its own subprocess (one JVM per measurement).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

DATA = "/tmp/bench_scaling_transcripts"

# scan_only, then each family of benchmark.workloads.family_kwargs, then all
STAGES = ["scan_only", "row", "unique", "referential", "sequence", "full"]


def run_stage(stage: str, par: int) -> float:
    from avro_conversions_spark.session import get_spark
    from benchmark.workloads import make_engine

    spark = get_spark(
        app_name=f"prof-{stage}-{par}",
        master=f"local[{par}]",
        shuffle_partitions=64,
        extra_conf={"spark.driver.extraJavaOptions": f"-XX:ActiveProcessorCount={par}"},
    )
    df = spark.read.parquet(DATA)

    from pyspark.sql import functions as F

    if stage == "scan_only":
        # decode cost floor: read + count over the engine's pruned columns
        warm = df.where(F.pmod(F.xxhash64("conv_id"), F.lit(16)) == 0)
        warm.select("conv_id", "turn_idx", "role", "tool", "ts").agg(
            F.count(F.lit(1)), F.min("turn_idx")).collect()
        t0 = time.perf_counter()
        df.select("conv_id", "turn_idx", "role", "tool", "ts").agg(
            F.count(F.lit(1)), F.min("turn_idx"), F.max("ts"),
            F.min("role"), F.min("tool"), F.min("conv_id")).collect()
        dt = time.perf_counter() - t0
        spark.stop()
        return dt

    # the benchmark's constraint set (benchmark.workloads.family_kwargs)
    eng = make_engine(spark) if stage == "full" else make_engine(spark, (stage,))
    warm_df = df.where(F.pmod(F.xxhash64("conv_id"), F.lit(16)) == 0)
    w = eng.run(warm_df, run_id="warm")
    w.verdicts.collect(); w.violations.count(); w.unpersist()
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    res = eng.run(df, run_id=f"prof-{stage}")
    res.verdicts.collect()
    res.violations.count()
    dt = time.perf_counter() - t0
    spark.stop()
    return dt


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--run":
        print(json.dumps({"wall": run_stage(sys.argv[2], int(sys.argv[3]))}))
        return
    lo, hi = (int(a) for a in (sys.argv[1:3] or [2, 8]))
    out = {}
    for stage in STAGES:
        walls = {}
        for par in (hi, lo):
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--run", stage, str(par)],
                capture_output=True, text=True, check=True,
            )
            walls[par] = json.loads(r.stdout.strip().splitlines()[-1])["wall"]
        eff = (walls[lo] / walls[hi]) / (hi / lo)
        out[stage] = {
            "lo_s": round(walls[lo], 1),
            "hi_s": round(walls[hi], 1),
            "pair_eff": round(eff, 3),
        }
        print(stage, json.dumps(out[stage]), flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
