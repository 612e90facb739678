"""Dump the optimized logical plan of named driver queries, normalized.

    python tools/dump_plans.py TAG NAME [NAME ...]

writes ``plans/TAG/NAME.txt`` for each query in ``QUERIES``. The data
directory comes from ``SPARK_GRAFT_SF_DIR`` (default sf0.01).

Expression ids (``doc_id#123L``) and lambda-variable counters (``x_17``)
are session allocation order, not plan structure, so they are renumbered
in order of first appearance: two checkouts whose plans match produce
files that ``diff`` to nothing. RDD ids need no rewrite: a checkpointed
frame prints as ``LogicalRDD [columns]``, without its id.
"""
from __future__ import annotations

import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

from avro_conversions_spark.session import get_spark  # noqa: E402

# lambda-variable counters, then expression ids; each distinct match
# keeps its prefix and takes its first-appearance index as the number, so
# distinct ids stay distinct after renaming
_COUNTERS = (re.compile(r"\b[xyz]_\d+\b"), re.compile(r"#\d+"))


def normalize(plan: str) -> str:
    for pat in _COUNTERS:
        seen: dict[str, str] = {}
        plan = pat.sub(
            lambda m: seen.setdefault(
                m.group(0), re.sub(r"\d+$", str(len(seen)), m.group(0))
            ),
            plan,
        )
    return plan


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    from avro_conversions_spark.operators.queries import QUERIES

    spark = get_spark(app_name="plans")
    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = normalize(df._jdf.queryExecution().optimizedPlan().toString())
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
