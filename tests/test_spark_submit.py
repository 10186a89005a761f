"""End-to-end `spark-submit --py-files` launch — the deployment form the
north rule names. Builds the package zip, submits a real spark-submit
process (its own JVM, the code arriving ONLY via --py-files), runs the
datagen and pipeline subcommands, and checks the parquet outputs."""

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _build_zip(tmp_path) -> str:
    zpath = str(tmp_path / "opensmile_spark.zip")
    pkg = os.path.join(REPO, "opensmile_spark")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    return zpath


def _spark_submit() -> str:
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin",
                        "spark-submit")
    return cand if os.path.exists(cand) else shutil.which("spark-submit")


@pytest.mark.slow
def test_spark_submit_pyfiles_pipeline(tmp_path):
    submit = _spark_submit()
    if submit is None:
        pytest.skip("spark-submit binary not found")
    zpath = _build_zip(tmp_path)
    launcher = tmp_path / "launch.py"
    launcher.write_text(
        "from opensmile_spark.cli import main\nmain()\n")
    corpus = str(tmp_path / "corpus")
    feats = str(tmp_path / "features")

    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)

    def run(*args):
        cmd = [submit, "--master", "local[2]",
               "--conf", "spark.sql.shuffle.partitions=4",
               "--conf", "spark.sql.session.timeZone=UTC",
               "--py-files", zpath, str(launcher), *args]
        r = subprocess.run(cmd, capture_output=True, text=True, timeout=420,
                           env=env, cwd=str(tmp_path))
        assert r.returncode == 0, r.stderr[-3000:]
        return r.stdout

    out = run("datagen", "--output", corpus, "--n-convs", "30",
              "--turns", "8")
    assert json.loads(out.strip().splitlines()[-1])["rows"] == 240

    out = run("pipeline", "--input", corpus, "--output", feats,
              "--value-cols", "char_len_sma3",
              "--families", "means,moments",
              "--resumable", "--buckets", "4")
    metrics = json.loads(out.strip().splitlines()[-1])
    assert metrics["buckets_done"] == 4
    assert metrics["rows_out"] > 0
    # the feature table landed and carries the functional columns
    import pandas as pd

    files = [os.path.join(dp, f) for dp, _d, fs in os.walk(feats)
             for f in fs
             if f.endswith(".parquet") and "manifest" not in dp]
    got = pd.concat([pd.read_parquet(f) for f in files])
    assert len(got) == metrics["rows_out"]
    assert "char_len_sma3_amean" in got.columns
    assert "char_len_sma3_stddev" in got.columns


def test_cli_dedup_and_decontaminate_inprocess(spark, tmp_path):
    """The data-pipeline CLI subcommands end-to-end in-process (the active
    session is reused, as under spark-submit): near-dup removal keeps one
    doc per duplicate cluster; decontamination drops eval-leaked docs."""
    import pandas as pd

    from opensmile_spark.cli import main

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [base, base + " tail", "totally different words entirely",
                 "yet another unrelated document body"],
    }))
    dpath, bpath = str(tmp_path / "docs"), str(tmp_path / "bench")
    docs.write.parquet(dpath)
    spark.createDataFrame(pd.DataFrame({
        "doc_id": [9], "text": ["totally different words entirely"],
    })).write.parquet(bpath)

    out1 = str(tmp_path / "deduped")
    main(["dedup", "--input", dpath, "--output", out1, "--jaccard", "0.5"])
    kept = sorted(r["doc_id"]
                  for r in spark.read.parquet(out1).collect())
    assert kept == [1, 3, 4]          # 2 is 1's near-dup -> removed

    out2 = str(tmp_path / "clean")
    main(["decontaminate", "--input", dpath, "--output", out2,
          "--benchmark", bpath])
    kept = sorted(r["doc_id"]
                  for r in spark.read.parquet(out2).collect())
    assert kept == [1, 2, 4]          # 3 matches the benchmark -> removed


def test_cli_backfill_incremental_inprocess(spark, tmp_path):
    """backfill on day 1, then backfill --prev-features/--prev-max-ts on
    day 2: the refresh equals a full backfill of day 2, and the watermark
    table it writes next to its output is conv_watermark of day 2's LLD."""
    import pandas as pd
    from pyspark.sql import functions as F

    from opensmile_spark.cli import main
    from opensmile_spark.datagen import generate_transcripts
    from opensmile_spark.lld import compute_lld
    from opensmile_spark.operators import sma
    from opensmile_spark.operators.asof import conv_watermark

    day2 = generate_transcripts(spark, n_convs=6, turns_per_conv=8)
    convs = sorted(r["conv_id"]
                   for r in day2.select("conv_id").distinct().collect())
    # day 1 lacks the last two turns of one conversation and all of another
    day1 = day2.filter(
        ~((F.col("conv_id") == convs[0]) & (F.col("turn_idx") >= 6))
        & (F.col("conv_id") != convs[1]))
    for day, t in (("day1", day1), ("day2", day2)):
        t.write.parquet(str(tmp_path / day))
        t.select("conv_id", F.col("ts").alias("anchor_ts")) \
            .write.parquet(str(tmp_path / f"{day}_anchors"))

    def backfill(day, out, *extra):
        main(["backfill", "--input", str(tmp_path / day),
              "--anchors", str(tmp_path / f"{day}_anchors"),
              "--output", str(tmp_path / out),
              "--value-cols", "char_len_sma3",
              "--families", "means,moments", *extra])

    backfill("day1", "feats1")
    backfill("day2", "feats2",
             "--prev-features", str(tmp_path / "feats1"),
             "--prev-max-ts", str(tmp_path / "feats1_max_ts"))
    backfill("day2", "full2")

    key = ["conv_id", "anchor_ts"]

    def read(out):
        return spark.read.parquet(str(tmp_path / out)).toPandas() \
            .sort_values(key).reset_index(drop=True)

    inc, full = read("feats2"), read("full2")
    assert len(inc) == day2.count()
    pd.testing.assert_frame_equal(inc, full[inc.columns], check_exact=True)

    lld2 = sma(compute_lld(spark.read.parquet(str(tmp_path / "day2"))),
               ["char_len"], 3)
    written = spark.read.parquet(str(tmp_path / "feats2_max_ts"))
    assert written.columns == ["conv_id", "max_ts", "n_rows"]
    assert sorted(written.collect()) == sorted(conv_watermark(lld2).collect())


def test_cli_sample_inprocess(spark, tmp_path):
    """The sample subcommand: uniform deterministic rate, then domain
    mixing via --strata-col/--weights — output rates and row counts are
    reproducible functions of (key, seed)."""
    import json

    import pandas as pd

    from opensmile_spark.cli import main
    from opensmile_spark.sampling import hash_sample

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": list(range(200)),
        "domain": ["web"] * 150 + ["books"] * 50,
        "text": [f"doc {i}" for i in range(200)],
    }))
    dpath = str(tmp_path / "docs")
    docs.write.parquet(dpath)

    out1 = str(tmp_path / "uniform")
    main(["sample", "--input", dpath, "--output", out1,
          "--rate", "0.3", "--seed", "3"])
    got = sorted(r["doc_id"] for r in spark.read.parquet(out1).collect())
    want = sorted(r["doc_id"] for r in
                  hash_sample(docs, 0.3, seed=3).collect())
    assert got == want

    out2 = str(tmp_path / "mixed")
    main(["sample", "--input", dpath, "--output", out2,
          "--strata-col", "domain", "--weights", "web=1,books=1",
          "--seed", "5"])
    by = (spark.read.parquet(out2).groupBy("domain").count().collect())
    counts = {r["domain"]: r["count"] for r in by}
    assert counts["books"] == 50            # binding stratum kept whole
    assert 25 <= counts.get("web", 0) <= 75  # ~50 expected of 150 at 1/3


def test_cli_redact_inprocess(spark, tmp_path):
    """The redact subcommand scrubs in place with --replace and reports
    total redaction counts."""
    import pandas as pd

    from opensmile_spark.cli import main

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1],
        "text": ["write to a@b.co or c@d.net", "clean text"],
    }))
    dpath = str(tmp_path / "docs")
    docs.write.parquet(dpath)
    out = str(tmp_path / "scrubbed")
    main(["redact", "--input", dpath, "--output", out, "--replace"])
    got = {r["doc_id"]: r["text"]
           for r in spark.read.parquet(out).collect()}
    assert got[0] == "write to [EMAIL] or [EMAIL]"
    assert got[1] == "clean text"
    cols = spark.read.parquet(out).columns
    assert "text_redacted" not in cols and "n_email" in cols


def test_cli_counts_come_from_the_write_job(spark, tmp_path, capsys):
    """redact, datagen, linededup and ingest (--init and not) print
    counts observed on their write job: the input read plus the writes'
    own jobs, no second run of the query and no read-back; the printed
    counts equal the written table's."""
    import pandas as pd
    from pyspark.sql import functions as F

    from opensmile_spark.cli import main
    from tests.conftest import count_jobs

    dpath = str(tmp_path / "docs")
    spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["write to a@b.co or c@d.net", "clean text",
                 "call 10.0.0.1"],
    })).write.parquet(dpath)

    def printed(argv):
        capsys.readouterr()
        _, jobs = count_jobs(spark, lambda: main(argv))
        return jobs, json.loads(capsys.readouterr().out.splitlines()[-1])

    out = str(tmp_path / "scrubbed")
    jobs, got = printed(["redact", "--input", dpath, "--output", out])
    assert jobs == 2                    # input schema read, write
    n_cols = sorted(got["redactions"])
    sums = spark.read.parquet(out).agg(
        *[F.sum(c).alias(c) for c in n_cols]).first().asDict()
    assert got["redactions"] == sums
    assert got["redactions"]["n_email"] == 2

    corpus = str(tmp_path / "corpus")
    jobs, got = printed(["datagen", "--output", corpus, "--n-convs", "20",
                         "--turns", "5"])
    assert jobs == 2                    # the write's shuffle stage, write
    assert got["rows"] == spark.read.parquet(corpus).count() == 100

    dpath = str(tmp_path / "pages")
    spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["menu\nfirst story", "menu\nsecond story\nfooter",
                 "other\nfooter"],
    })).write.parquet(dpath)
    out = str(tmp_path / "lines")
    jobs, got = printed(["linededup", "--input", dpath, "--output", out])
    assert jobs == 6                    # input read, shuffle stages, write
    agg = spark.read.parquet(out).agg(
        F.count(F.lit(1)).alias("docs"), F.sum("n_lines").alias("lines"),
        F.sum("n_removed").alias("removed")).first()
    assert (got["docs"], got["lines"], got["removed"]) \
        == (agg["docs"], agg["lines"], agg["removed"]) == (3, 7, 4)

    out = str(tmp_path / "kept")
    store = str(tmp_path / "store")
    jobs, got = printed(["ingest", "--input", dpath, "--output", out,
                         "--store", store, "--init"])
    assert jobs == 4    # input read, store shuffle and write, docs write
    assert got["rows_in"] == got["kept"] \
        == spark.read.parquet(out).count() == 3

    dpath = str(tmp_path / "pages2")
    spark.createDataFrame(pd.DataFrame({
        "doc_id": [10, 11, 12, 13],
        "text": ["menu\nfirst story", "new", "new", "newer"],
    })).write.parquet(dpath)
    out = str(tmp_path / "kept2")
    jobs, got = printed(["ingest", "--input", dpath, "--output", out,
                         "--store", store])
    # input read, decision checkpoint, survivor write, delta shuffle and
    # write; a store schema inference and a separate count aggregate
    # would take 3 more
    assert jobs == 8
    assert got == {"output": out, "store": store, "rows_in": 4, "seen": 1,
                   "batch_dup": 1, "kept": 2}
    assert spark.read.parquet(out).count() == 2


def test_cli_ingest_after_empty_init(spark, tmp_path):
    """--init on an empty snapshot writes a store with no data file; the
    next ingest reads it with the store's schema and keeps every unique
    doc, and the one after that sees them."""
    import pandas as pd

    from opensmile_spark.cli import main

    store = str(tmp_path / "store")
    s0 = str(tmp_path / "snap0")
    spark.createDataFrame([], "doc_id long, text string").write.parquet(s0)
    main(["ingest", "--input", s0, "--output", str(tmp_path / "kept0"),
          "--store", store, "--init"])
    assert spark.read.parquet(str(tmp_path / "kept0")).count() == 0

    s1 = str(tmp_path / "snap1")
    spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3], "text": ["alpha", "beta", "alpha"],
    })).write.parquet(s1)
    out1 = str(tmp_path / "kept1")
    main(["ingest", "--input", s1, "--output", out1, "--store", store])
    assert sorted(r["doc_id"] for r in
                  spark.read.parquet(out1).collect()) == [1, 2]

    out2 = str(tmp_path / "kept2")
    main(["ingest", "--input", s1, "--output", out2, "--store", store])
    assert spark.read.parquet(out2).count() == 0


def test_cli_ingest_inprocess(spark, tmp_path):
    """The ingest subcommand: --init bootstraps the store; a second
    snapshot keeps only unseen, batch-unique docs and appends its delta
    so a third identical snapshot keeps nothing."""
    import pandas as pd

    from opensmile_spark.cli import main

    store = str(tmp_path / "store")
    s1 = str(tmp_path / "snap1")
    spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["alpha", "beta", "gamma"],
    })).write.parquet(s1)
    out1 = str(tmp_path / "kept1")
    main(["ingest", "--input", s1, "--output", out1, "--store", store,
          "--init"])
    assert spark.read.parquet(out1).count() == 3

    s2 = str(tmp_path / "snap2")
    spark.createDataFrame(pd.DataFrame({
        "doc_id": [10, 11, 12, 13],
        "text": ["beta", "delta", "delta", "epsilon"],
    })).write.parquet(s2)
    out2 = str(tmp_path / "kept2")
    main(["ingest", "--input", s2, "--output", out2, "--store", store])
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out2).collect())
    assert kept == [11, 13]         # 10 seen, 12 dup of 11

    out3 = str(tmp_path / "kept3")
    main(["ingest", "--input", s2, "--output", out3, "--store", store])
    assert spark.read.parquet(out3).count() == 0

    with pytest.raises(SystemExit):
        main(["ingest", "--input", s2, "--output", store,
              "--store", store])


def test_cli_semdedup_inprocess(spark, tmp_path):
    """The semdedup subcommand prunes planted near-copies to one
    survivor per set."""
    import numpy as np
    import pandas as pd

    from opensmile_spark.cli import main

    rng = np.random.RandomState(0)
    base = rng.randn(4, 16)
    rows = []
    vid = 0
    for b in base:
        for _ in range(3):
            rows.append((vid, [float(x) for x in b + rng.randn(16) * 1e-3]))
            vid += 1
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).write.parquet(str(tmp_path / "emb"))
    out = str(tmp_path / "dec")
    main(["semdedup", "--input", str(tmp_path / "emb"), "--output", out,
          "--threshold", "0.9", "--clusters", "2", "--iters", "3"])
    dec = spark.read.parquet(out)
    assert dec.count() == 12
    assert dec.filter("keep").count() == 4
