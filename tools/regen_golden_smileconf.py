"""Regenerate the smileconf golden: the IS13_ComParE reference config
compiled and EXECUTED on sf0.001 transcript LLDs (15 conversations x
~342 functional columns). Pins the whole parse -> compile -> DAG-routed
run_config -> operator chain; regenerate ONLY on an intentional formula
or mapping change (the golden diff is then part of the review):

    python tools/regen_golden_smileconf.py
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GOLDEN = os.path.join(os.path.dirname(__file__), os.pardir,
                      "tests", "golden", "is13_compiled_sf0001.json")
CONF = "/root/reference/config/is09-13/IS13_ComParE.conf"
SF_DIR = "/root/testdata/sf0.001"


def compute_rows():
    from opensmile_spark import get_spark
    from opensmile_spark.config import run_config
    from opensmile_spark.lld import compute_lld
    from opensmile_spark.smileconf import conf_to_config, load_conf
    from opensmile_spark.transcripts import transcripts_from_events

    spark = get_spark("regen_golden_smileconf", master="local[8]",
                      shuffle_partitions=8)
    try:
        t = compute_lld(transcripts_from_events(spark, SF_DIR))
        cfg = conf_to_config(load_conf(CONF), ["char_len"])
        df = run_config(t, cfg)
        cols = df.columns
        rows = [[r[c] for c in cols]
                for r in df.orderBy("conv_id").collect()]
    finally:
        spark.stop()

    def enc(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "__nan__"
            if math.isinf(v):
                return "__inf__" if v > 0 else "__-inf__"
        return v

    return cols, [[enc(v) for v in row] for row in rows]


if __name__ == "__main__":
    cols, rows = compute_rows()
    with open(GOLDEN, "w") as f:
        json.dump({"conf": CONF, "sf_dir": SF_DIR, "columns": cols,
                   "rows": rows}, f)
    print(f"wrote {GOLDEN}: {len(rows)} rows x {len(cols)} cols")
