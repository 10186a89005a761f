"""Regenerate the golden preset outputs tests/test_golden.py pins.

The north-star contract: feature vectors must match the engine's own
frozen reference allclose at every (conv_id, session_id), verified by
`python -m pytest -x -q`. This script freezes the `egemaps_core` gate
(both flagship preset cores — eGeMAPS- and ComParE-style functional
banks over the smoothed transcript LLDs) at sf0.001 into a JSON golden.

Run ONLY when an intentional formula change lands (the diff of the
golden is then part of the review):

    python tools/regen_golden.py
"""

from __future__ import annotations

import importlib.util
import json
import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

GOLDEN = os.path.join(ROOT, "tests", "golden", "egemaps_core_sf0001.json")
SF_DIR = "/root/testdata/sf0.001"
KEYS = ["conv_id", "session_id"]


def compute_rows():
    from opensmile_spark import get_spark

    spec = importlib.util.spec_from_file_location(
        "spark_entry_golden", os.path.join(ROOT, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    spark = get_spark("regen_golden", master="local[8]",
                      shuffle_partitions=8)
    try:
        df = mod.queries()["egemaps_core"](spark, SF_DIR)
        cols = df.columns
        rows = [[r[c] for c in cols]
                for r in df.orderBy(*KEYS).collect()]
    finally:
        spark.stop()
    # JSON has no NaN/Inf literal; tag them portably
    def enc(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "__nan__"
            if math.isinf(v):
                return "__inf__" if v > 0 else "__-inf__"
        return v
    return cols, [[enc(v) for v in row] for row in rows]


def main():
    cols, rows = compute_rows()
    os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
    with open(GOLDEN, "w") as f:
        json.dump({"sf_dir": SF_DIR, "query": "egemaps_core",
                   "columns": cols, "rows": rows}, f)
    print(f"wrote {os.path.normpath(GOLDEN)}: "
          f"{len(rows)} rows x {len(cols)} cols")


if __name__ == "__main__":
    main()
