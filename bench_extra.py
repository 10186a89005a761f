"""Extra benchmarks for optimization work (guide §1.4 noop isolation).

NOT the driver's bench — bench.py is frozen for measurement. This harness
times the stages of the stage registry (tools/stages.py, which bench.py
imports too) in the same session config, but lets you pick stages/reps,
including the registry's extras after the headline ten (e.g. dedup
signatures vs pairs) for profiling.

Usage:
  python bench_extra.py [--reps N] [stage ...]
  python bench_extra.py --list
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tools.stages import (  # noqa: E402
    N_HEADLINE, bench_spark, flagship, load_inputs, stage_table,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SCRATCH = "/dev/shm/opensmile_spark_bench_extra_scratch"


def main():
    from pyspark.sql import functions as F

    from opensmile_spark.dedup import minhash_lsh_pairs, ngram_jaccard
    from opensmile_spark.io import null_sink
    from opensmile_spark.similarity import cosine_topk

    args = [a for a in sys.argv[1:]]
    reps = 3
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i:i + 2]

    spark = bench_spark("bench_extra", CPUS, SCRATCH)
    inputs = load_inputs(spark, SF_DIR)
    transcripts, _, _, _, docs, emb = inputs
    stages = stage_table(*inputs)

    if "--list" in args:
        print("\n".join(n for n, _ in stages))
        spark.stop()
        return
    names = args or [n for n, _ in stages[:N_HEADLINE]]
    builds = dict(stages)

    # warm-ups (mirror bench.py)
    sample = docs.limit(500)
    null_sink(ngram_jaccard(sample, minhash_lsh_pairs(sample, n_hashes=8,
                                                      bands=4)))
    null_sink(cosine_topk(emb.limit(500), emb.filter(F.col("vec_id") < 2),
                          k=5))
    null_sink(flagship(transcripts))

    samples: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(reps):
        for n in names:
            spark.sparkContext.setJobDescription(f"bench_extra: {n}")
            t0 = time.time()
            null_sink(builds[n]())
            samples[n].append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    out = {n: {"min": min(v), "all": v} for n, v in samples.items()}
    out["total_min"] = round(sum(v["min"] for v in out.values()
                                 if isinstance(v, dict)), 3)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
