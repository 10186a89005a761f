"""Dump .explain("formatted") for every bench stage to plans/<tag>/.

Builds the stage registry's DataFrames (tools/stages.py: the headline
stages bench.py times, then the extras) over the same inputs bench.py
loads, `lld` cached, and writes one plan file per stage:
plans/<tag>/<stage>_<suffix>.txt.

Usage: python tools/dump_plans.py <tag> <suffix> [stage ...]
e.g.   python tools/dump_plans.py r06 before
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools.stages import (  # noqa: E402
    bench_spark, explain, load_inputs, stage_table,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SCRATCH = "/dev/shm/opensmile_spark_plans_scratch"


def main():
    tag = sys.argv[1] if len(sys.argv) > 1 else "r06"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])

    spark = bench_spark("plans", CPUS, SCRATCH)
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name, build in stage_table(*load_inputs(spark, SF_DIR)):
        if only and name not in only:
            continue
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(explain(build()))
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
