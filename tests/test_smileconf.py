"""openSMILE .conf compatibility layer: parser, dataflow ordering,
component mapping, end-to-end equivalence, and real-reference-file parse."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from opensmile_spark.config import run_config
from opensmile_spark.smileconf import (conf_to_config, load_conf,
                                       parse_conf_text, toposort_sections)


def _run_conf(df, conf):
    """conf text -> compile -> run: the calls `smileconf` on the CLI makes."""
    cfg = conf_to_config(parse_conf_text(conf), ["char_len"], ("conv_id",))
    return run_config(df, cfg), cfg["report"]


@pytest.fixture(scope="module")
def lld_small(spark):
    rows = []
    rng = np.random.RandomState(7)
    for c in range(3):
        for i in range(12):
            rows.append((f"c{c}", i,
                         float(rng.randint(1, 200))))
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, char_len double")


BASIC = """
;;;;;;; comment ;;;;;;;
// another comment
# and another

[componentInstances:cComponentManager]
instance[dataMemory].type=cDataMemory
instance[smo].type=cContourSmoother
printLevelStats = 0

[smo:cContourSmoother]
reader.dmLevel = lld
writer.dmLevel = lld_smo
smaWin = 3

[func:cFunctionals]
reader.dmLevel = lld_smo
writer.dmLevel = func
functionalsEnabled = Moments ; Percentiles
Moments.doRatioLimit = 0
Percentiles.percentile[0] = 0.20
Percentiles.percentile[1] = 0.50
Percentiles.percentile[2] = 0.80
Percentiles.pctlrange[0] = 0-2
Percentiles.interp = 1
"""


def test_parse_sections_instances_arrays():
    p = parse_conf_text(BASIC)
    assert p.instances == {"dataMemory": "cDataMemory",
                           "smo": "cContourSmoother"}
    names = [(s.name, s.ctype) for s in p.sections]
    assert names == [("smo", "cContourSmoother"), ("func", "cFunctionals")]
    f = p.section("func")
    assert f.get("functionalsEnabled") == "Moments ; Percentiles"
    assert f.get("Percentiles.percentile") == [0.20, 0.50, 0.80]
    assert f.get("Percentiles.pctlrange") == ["0-2"]
    assert f.get("Percentiles.interp") == 1
    assert p.unresolved == []


def test_section_order_follows_dmlevel_wiring_not_file_order():
    out_of_order = """
[func:cFunctionals]
reader.dmLevel = b
writer.dmLevel = c
functionalsEnabled = Means

[de:cDeltaRegression]
reader.dmLevel = a
writer.dmLevel = b
deltawin = 2

[smo:cContourSmoother]
reader.dmLevel = raw
writer.dmLevel = a
smaWin = 5
"""
    p = parse_conf_text(out_of_order)
    ordered = [s.name for s in toposort_sections(p)]
    assert ordered == ["smo", "de", "func"]


def test_cm_substitution_value_default_unresolved():
    text = r"""
[smo:cContourSmoother]
reader.dmLevel = lld
writer.dmLevel = s
smaWin = \cm[win(W){5}:smoothing window]
nameAppend = \cm[app{sma}:name append]
noZeroSma = \cm[nzs:no default or value]
"""
    # provided value wins
    p = parse_conf_text(text, cm={"win": 7})
    assert p.section("smo").get("smaWin") == 7
    # default fallback
    assert p.section("smo").get("nameAppend") == "sma"
    # unresolved: line skipped + recorded
    assert p.section("smo").get("noZeroSma") is None
    assert any("nzs" in u for u in p.unresolved)
    # short-option name also matches
    p2 = parse_conf_text(text, cm={"W": 9})
    assert p2.section("smo").get("smaWin") == 9


def test_includes_resolve_relative_to_including_file(tmp_path):
    sub = tmp_path / "shared"
    sub.mkdir()
    (sub / "smo.inc").write_text(
        "[smo:cContourSmoother]\nreader.dmLevel=lld\n"
        "writer.dmLevel=s\nsmaWin=3\n")
    (sub / "chain.inc").write_text(
        "\\{smo.inc}\n[de:cDeltaRegression]\nreader.dmLevel=s\n"
        "writer.dmLevel=d\ndeltawin=4\n")
    main = tmp_path / "main.conf"
    main.write_text(
        "[componentInstances:cComponentManager]\n"
        "instance[smo].type=cContourSmoother\n"
        "\\{shared/chain.inc}\n"
        "[func:cFunctionals]\nreader.dmLevel=d\nwriter.dmLevel=f\n"
        "functionalsEnabled=Means\n")
    p = load_conf(str(main))
    assert [s.name for s in p.sections] == ["smo", "de", "func"]
    assert p.section("de").get("deltawin") == 4
    assert p.unresolved == []


def test_missing_include_is_reported_not_fatal(tmp_path):
    main = tmp_path / "main.conf"
    main.write_text("\\{nope/gone.inc}\n[f:cFunctionals]\n"
                    "reader.dmLevel=x\nwriter.dmLevel=y\n"
                    "functionalsEnabled=Means\n")
    p = load_conf(str(main))
    assert [s.name for s in p.sections] == ["f"]
    assert any("gone.inc" in u for u in p.unresolved)


def test_conf_to_config_threads_column_names():
    p = parse_conf_text(BASIC)
    cfg = conf_to_config(p, ["char_len"], group_cols=("conv_id",))
    stages = cfg["stages"]
    s0 = {k: v for k, v in stages[0].items() if not k.startswith("_")}
    assert s0 == {"type": "sma", "cols": ["char_len"], "win": 3,
                  "no_zero_sma": False}
    # DAG routing metadata mirrors the conf's level wiring
    assert stages[0]["_reads"] and stages[0]["_writes"]
    assert stages[1]["type"] == "functionals"
    assert stages[1]["value_cols"] == ["char_len_sma3"]
    assert stages[1]["families"] == ["moments", "percentiles"]
    o = stages[1]["options"]
    assert o["percentiles"]["percentiles"] == (0.20, 0.50, 0.80)
    assert o["percentiles"]["pctlranges"] == ((0, 2),)
    assert o["percentiles"]["interp"] is True
    assert o["moments"]["doRatioLimit"] is False
    assert any("smo:cContourSmoother" in m for m in cfg["report"]["mapped"])


def test_unknown_component_is_passthrough_and_io_is_classified():
    text = """
[wave:cWaveSource]
writer.dmLevel = wave

[weird:cSomeUnknownThing]
reader.dmLevel = wave
writer.dmLevel = x

[sink:cCsvSink]
reader.dmLevel = x
"""
    cfg = conf_to_config(parse_conf_text(text), ["v"])
    assert cfg["stages"] == []
    assert "weird:cSomeUnknownThing" in cfg["report"]["passthrough"]
    assert "wave:cWaveSource" in cfg["report"]["io"]
    assert "sink:cCsvSink" in cfg["report"]["io"]


def test_end_to_end_matches_directly_composed_pipeline(spark, lld_small):
    """A conf-driven run must equal the hand-composed sma -> delta ->
    functionals pipeline bit-for-bit."""
    from opensmile_spark.functionals import functionals_kernel
    from opensmile_spark.operators import delta_regression, sma

    conf = """
[smo:cContourSmoother]
reader.dmLevel = lld
writer.dmLevel = s
smaWin = 3

[de:cDeltaRegression]
reader.dmLevel = s
writer.dmLevel = d
deltawin = 2

[func:cFunctionals]
reader.dmLevel = d
writer.dmLevel = f
functionalsEnabled = Moments ; Percentiles
Percentiles.percentile[0] = 0.10
Percentiles.percentile[1] = 0.90
Percentiles.pctlrange[0] = 0-1
Percentiles.interp = 1
"""
    got, report = _run_conf(lld_small, conf)
    want_lld = sma(lld_small, ["char_len"], 3)
    want_lld = delta_regression(want_lld, ["char_len_sma3"], 2)
    want = functionals_kernel(
        want_lld, ["char_len_sma3_de"], ("conv_id",),
        families=["moments", "percentiles"],
        options={"percentiles": {"percentiles": (0.10, 0.90),
                                 "pctlranges": ((0, 1),),
                                 "interp": True}})
    g = {r["conv_id"]: r for r in got.collect()}
    w = {r["conv_id"]: r for r in want.collect()}
    assert set(g) == set(w) and len(g) > 0
    for cid in g:
        for c in want.columns:
            gv, wv = g[cid][c], w[cid][c]
            if isinstance(wv, float):
                assert gv == pytest.approx(wv, rel=1e-12), (cid, c)
            else:
                assert gv == wv, (cid, c)
    assert len(report["mapped"]) == 3


REF_FUNC = ("/root/reference/config/gemaps/v01b/"
            "GeMAPSv01b_core.func.conf.inc")


@pytest.mark.skipif(not os.path.isfile(REF_FUNC),
                    reason="reference config not present")
def test_parses_real_reference_gemaps_functionals():
    """The ACTUAL GeMAPS functional config from the reference tree parses,
    and the extracted families/percentiles match what the file declares."""
    with open(REF_FUNC) as f:
        text = f.read()
    p = parse_conf_text(text)
    funcs = p.by_type("cFunctionals")
    assert len(funcs) >= 5
    f0 = p.section("gemapsv01b_functionalsF0")
    assert f0 is not None
    fams = [x.strip() for x in f0.get("functionalsEnabled").split(";")]
    assert fams == ["Moments", "Percentiles", "Peaks2"]
    assert f0.get("Percentiles.percentile") == [0.20, 0.50, 0.80]
    assert f0.get("Percentiles.pctlrange") == ["0-2"]
    assert f0.get("Percentiles.interp") == 1
    # \cm[...] references without defaults are reported, not fatal
    assert all(isinstance(u, str) for u in p.unresolved)
    # and the mapping produces runnable functional stages
    cfg = conf_to_config(p, ["char_len"])
    fstages = [s for s in cfg["stages"] if s["type"] == "functionals"]
    assert len(fstages) >= 5
    assert any("peaks2" in s["families"] for s in fstages)
    assert any(s.get("options", {}).get("percentiles", {})
               .get("percentiles") == (0.20, 0.50, 0.80) for s in fstages)


@pytest.mark.skipif(not os.path.isfile(REF_FUNC),
                    reason="reference config not present")
def test_real_gemaps_smoother_sections_map_to_sma():
    lldinc = ("/root/reference/config/gemaps/v01b/"
              "GeMAPSv01b_core.lld.conf.inc")
    if not os.path.isfile(lldinc):
        pytest.skip("lld inc not present")
    with open(lldinc) as f:
        p = parse_conf_text(f.read())
    smoothers = p.by_type("cContourSmoother")
    assert smoothers, "GeMAPS lld chain declares contour smoothers"
    assert all(int(s.get("smaWin", 3)) >= 1 for s in smoothers)


def test_cli_smileconf_inprocess(spark, lld_small, tmp_path):
    """The smileconf subcommand: conf file in, feature parquet + mapping
    report out."""
    import json

    from opensmile_spark.cli import main

    conf = tmp_path / "mini.conf"
    conf.write_text(
        "[smo:cContourSmoother]\n"
        "reader.dmLevel=lld\nwriter.dmLevel=s\nsmaWin=3\n\n"
        "[func:cFunctionals]\n"
        "reader.dmLevel=s\nwriter.dmLevel=f\n"
        "functionalsEnabled = Means\n")
    inp = str(tmp_path / "lld.parquet")
    outp = str(tmp_path / "feats.parquet")
    lld_small.write.parquet(inp)
    main(["smileconf", "--conf", str(conf), "--input", inp,
          "--output", outp, "--value-cols", "char_len"])
    got = spark.read.parquet(outp)
    assert got.count() == 3  # one row per conv
    assert "char_len_sma3_amean" in got.columns


def test_output_flags_select_enabled_subset(spark, lld_small):
    """Per-output enable flags (the reference's functionals.cpp config
    bools) post-select exactly the enabled columns; plural flags match by
    prefix (quartiles -> quartile1..3) and longest-flag-wins keeps
    stddev / stddevNorm independent."""
    conf = """
[func:cFunctionals]
reader.dmLevel = lld
writer.dmLevel = f
functionalsEnabled = Moments ; Percentiles
Moments.variance = 0
Moments.stddev = 0
Moments.stddevNorm = 2
Moments.skewness = 0
Moments.kurtosis = 0
Moments.amean = 1
Percentiles.quartiles = 0
Percentiles.iqr = 0
Percentiles.percentile[0] = 0.20
Percentiles.percentile[1] = 0.80
Percentiles.pctlrange[0] = 0-1
Percentiles.interp = 1
"""
    got, report = _run_conf(lld_small, conf)
    cols = set(got.columns)
    # enabled + default-kept (no flag governs coeffOfVariation)
    assert {"conv_id", "n_turns", "char_len_amean", "char_len_stddevNorm",
            "char_len_coeffOfVariation", "char_len_percentile20.0",
            "char_len_percentile80.0", "char_len_pctlrange0-1"} <= cols
    # disabled
    assert not {"char_len_variance", "char_len_stddev", "char_len_skewness",
                "char_len_kurtosis", "char_len_quartile1",
                "char_len_iqr1-2"} & cols
    assert got.count() == 3
    # values still equal the full-kernel computation
    from opensmile_spark.functionals import functionals_kernel
    want = functionals_kernel(
        lld_small, ["char_len"], ("conv_id",),
        families=["moments", "percentiles"],
        options={"percentiles": {"percentiles": (0.20, 0.80),
                                 "pctlranges": ((0, 1),), "interp": True}})
    w = {r["conv_id"]: r for r in want.collect()}
    for r in got.collect():
        assert r["char_len_amean"] == pytest.approx(
            w[r["conv_id"]]["char_len_amean"], rel=1e-12)


def test_output_flags_unavailable_reported():
    conf = """
[func:cFunctionals]
reader.dmLevel = lld
writer.dmLevel = f
functionalsEnabled = Peaks2
Peaks2.meanPeakDistDelta = 1
Peaks2.numPeaks = 1
"""
    cfg = conf_to_config(parse_conf_text(conf), ["x"])
    sel = [s for s in cfg["stages"] if s["type"] == "select"][0]
    assert "x_numPeaks" in sel["cols"]
    # meanPeakDistDelta is an openSMILE output this engine does not emit
    assert cfg["report"]["unavailable_outputs"]["func"] == [
        "peaks2.meanPeakDistDelta"]


@pytest.mark.skipif(not os.path.isfile(REF_FUNC),
                    reason="reference config not present")
def test_real_gemaps_output_flags_compile():
    """The real GeMAPS F0 functionals section compiles to a select stage
    that keeps its three percentiles + range and drops the disabled
    moments outputs."""
    with open(REF_FUNC) as f:
        p = parse_conf_text(f.read())
    cfg = conf_to_config(p, ["f0"])
    # find the select stage following the functionalsF0 stage
    stages = cfg["stages"]
    idx = [i for i, s in enumerate(stages)
           if s["type"] == "functionals"
           and s.get("options", {}).get("percentiles", {})
           .get("percentiles") == (0.20, 0.50, 0.80)]
    assert idx, "functionalsF0-shaped stage present"
    sel = stages[idx[0] + 1]
    assert sel["type"] == "select"
    # the value col threads through the real chain's smoother naming
    # (f0 -> f0_sma3nz via the upstream cContourSmoother section)
    base = stages[idx[0]]["value_cols"][0]
    assert f"{base}_percentile20.0" in sel["cols"]
    assert f"{base}_pctlrange0-2" in sel["cols"]
    assert f"{base}_amean" in sel["cols"]          # Moments.amean = 1
    assert f"{base}_variance" not in sel["cols"]   # Moments.variance = 0
    assert f"{base}_quartile1" not in sel["cols"]  # Percentiles.quartiles = 0


def test_vector_operation_maps_and_threads(spark, lld_small):
    """cVectorOperation (the reference's scalar-math component, e.g. the
    GeMAPS logF0 / audspecSum stages) maps to a vector_op stage whose
    output name threads into downstream consumers."""
    conf = """
[logv:cVectorOperation]
reader.dmLevel = lld
writer.dmLevel = logged
operation = log

[smo:cContourSmoother]
reader.dmLevel = logged
writer.dmLevel = s
smaWin = 3

[func:cFunctionals]
reader.dmLevel = s
writer.dmLevel = f
functionalsEnabled = Means
"""
    got, report = _run_conf(lld_small, conf)
    assert "char_len_log_sma3_amean" in got.columns
    assert got.count() == 3
    from opensmile_spark.functionals import functionals_kernel
    from opensmile_spark.operators import sma, vector_op

    want = functionals_kernel(
        sma(vector_op(lld_small, "char_len", "log"),
            ["char_len_log"], 3),
        ["char_len_log_sma3"], ("conv_id",), families=["means"])
    w = {r["conv_id"]: r["char_len_log_sma3_amean"] for r in want.collect()}
    for r in got.collect():
        assert r["char_len_log_sma3_amean"] == pytest.approx(
            w[r["conv_id"]], rel=1e-12)
    assert any("vector_op(log" in m for m in report["mapped"])


def test_cli_smileconf_dry_run_and_csv(spark, lld_small, tmp_path, capsys):
    """--dry-run prints the compiled plan without touching input;
    a .csv input is read through the cCsvSource analogue honoring the
    conf's declared delimiter/header options, and an .arff input through
    the cArffSource analogue to the same features."""
    import json

    from opensmile_spark.cli import main

    conf = tmp_path / "csv.conf"
    conf.write_text(
        "[src:cCsvSource]\nwriter.dmLevel=lld\ndelimChar=;\nheader=1\n\n"
        "[smo:cContourSmoother]\n"
        "reader.dmLevel=lld\nwriter.dmLevel=s\nsmaWin=3\n\n"
        "[func:cFunctionals]\n"
        "reader.dmLevel=s\nwriter.dmLevel=f\nfunctionalsEnabled = Means\n")
    main(["smileconf", "--conf", str(conf), "--dry-run"])
    plan = json.loads(capsys.readouterr().out)
    assert [s["type"] for s in plan["stages"]] == ["sma", "functionals"]
    assert "src:cCsvSource" in plan["report"]["io"]

    # ';'-delimited csv with header, per the conf's source section
    csv = tmp_path / "in.csv"
    rows = lld_small.orderBy("conv_id", "turn_idx").collect()
    csv.write_text("conv_id;turn_idx;char_len\n" + "\n".join(
        f"{r['conv_id']};{r['turn_idx']};{r['char_len']}" for r in rows))
    outp = str(tmp_path / "out.parquet")
    main(["smileconf", "--conf", str(conf), "--input", str(csv),
          "--output", outp, "--value-cols", "char_len"])
    got = spark.read.parquet(outp)
    assert got.count() == 3
    assert "char_len_sma3_amean" in got.columns

    arff = tmp_path / "in.arff"
    arff.write_text(
        "% written by arffSink\n@relation lld\n\n"
        "@attribute conv_id string\n@attribute turn_idx numeric\n"
        "@attribute char_len numeric\n\n@data\n" + "\n".join(
            f"'{r['conv_id']}',{r['turn_idx']},{r['char_len']}"
            for r in rows))
    outa = str(tmp_path / "out_arff.parquet")
    main(["smileconf", "--conf", str(conf), "--input", str(arff),
          "--output", outa, "--value-cols", "char_len"])
    key = ["conv_id"]
    assert spark.read.parquet(outa).orderBy(key).collect() == \
        got.orderBy(key).collect()


def test_cli_smileconf_requires_io_unless_dry_run(tmp_path):
    from opensmile_spark.cli import main

    conf = tmp_path / "x.conf"
    conf.write_text("[f:cFunctionals]\nreader.dmLevel=a\n"
                    "writer.dmLevel=b\nfunctionalsEnabled=Means\n")
    with pytest.raises(SystemExit):
        main(["smileconf", "--conf", str(conf)])


def test_framemode_fixed_tumbling_functionals(spark):
    """cFunctionals with frameMode=fixed / frameStep == frameSize maps to
    tumbling event-time buckets (winToVecProcessor fixed framing): one
    functional vector per (conv, day) instead of per conv."""
    rows = []
    for c in range(2):
        for i in range(8):
            rows.append((f"c{c}", i, float(10 + 7 * i + c),
                         1_704_067_200.0 + i * 21600.0))  # 4 turns/day
    df = (spark.createDataFrame(
        rows, "conv_id string, turn_idx int, char_len double, epoch double")
        .withColumn("ts", F.timestamp_seconds("epoch")).drop("epoch"))
    conf = """
[func:cFunctionals]
reader.dmLevel = lld
writer.dmLevel = f
frameMode = fixed
frameSize = 86400
frameStep = 86400
functionalsEnabled = Means
"""
    got, report = _run_conf(df, conf)
    assert got.count() == 4  # 2 convs x 2 day buckets
    assert "win_start" in got.columns
    from opensmile_spark.functionals import functionals_kernel
    from opensmile_spark.util import epoch_seconds

    bucketed = df.withColumn(
        "win_start", F.floor(epoch_seconds(F.col("ts")) / 86400.0) * 86400.0)
    want = functionals_kernel(bucketed, ["char_len"],
                              ("conv_id", "win_start"), families=["means"])
    w = {(r["conv_id"], r["win_start"]): r["char_len_amean"]
         for r in want.collect()}
    for r in got.collect():
        assert r["char_len_amean"] == pytest.approx(
            w[(r["conv_id"], r["win_start"])], rel=1e-12)
    assert any("tumbling_bucket" in m for m in report["mapped"])


def test_framemode_overlap_and_unknown_reported():
    conf = """
[a:cFunctionals]
reader.dmLevel = x
writer.dmLevel = y
frameMode = fixed
frameSize = 60
frameStep = 10
functionalsEnabled = Means

[b:cFunctionals]
reader.dmLevel = y
writer.dmLevel = z
frameMode = var
functionalsEnabled = Means
"""
    cfg = conf_to_config(parse_conf_text(conf), ["v"])
    um = cfg["report"]["unmapped_options"]
    assert any("frameStep" in x for x in um["a"])
    assert any("frameMode=var" in x for x in um["b"])
    # the overlap case still runs (as tumbling), the var case as full
    kinds = [s["type"] for s in cfg["stages"]]
    assert kinds == ["tumbling_bucket", "functionals", "functionals"]


def test_emit_config_roundtrips_through_runconfig(spark, lld_small,
                                                  tmp_path, capsys):
    """--emit-config writes the compiled native JSON config; running it
    via `runconfig` reproduces the conf-driven output exactly (the
    one-time conf -> native conversion path)."""
    import json

    from opensmile_spark.cli import main

    conf = tmp_path / "mini.conf"
    conf.write_text(
        "[smo:cContourSmoother]\n"
        "reader.dmLevel=lld\nwriter.dmLevel=s\nsmaWin=3\n\n"
        "[func:cFunctionals]\n"
        "reader.dmLevel=s\nwriter.dmLevel=f\n"
        "functionalsEnabled = Moments ; Percentiles\n"
        "Moments.amean = 1\nMoments.variance = 0\n"
        "Percentiles.quartiles = 1\nPercentiles.iqr = 0\n"
        "Percentiles.percentile[0] = 0.5\n"
        "Percentiles.pctlrange[0] = 0-0\n")
    native = str(tmp_path / "native.json")
    main(["smileconf", "--conf", str(conf), "--dry-run",
          "--emit-config", native, "--value-cols", "char_len"])
    capsys.readouterr()
    inp = str(tmp_path / "lld.parquet")
    out1 = str(tmp_path / "o1.parquet")
    out2 = str(tmp_path / "o2.parquet")
    lld_small.write.parquet(inp)
    main(["smileconf", "--conf", str(conf), "--input", inp,
          "--output", out1, "--value-cols", "char_len"])
    main(["runconfig", "--config", native, "--input", inp,
          "--output", out2])
    a = spark.read.parquet(out1)
    b = spark.read.parquet(out2)
    assert sorted(a.columns) == sorted(b.columns)
    ra = {r["conv_id"]: r for r in a.collect()}
    rb = {r["conv_id"]: r for r in b.collect()}
    assert set(ra) == set(rb)
    for cid in ra:
        for c in a.columns:
            assert ra[cid][c] == rb[cid][c], (cid, c)
    plan = json.load(open(native))
    assert [s["type"] for s in plan["stages"]] == [
        "sma", "functionals", "select"]


def test_include_continues_open_section(tmp_path):
    """Textual-include semantics (configManager.cpp): an included file's
    bare options continue the section open at the include point — the
    shared FrameModeFunctionals.conf.inc pattern."""
    from opensmile_spark.smileconf import load_conf
    inc = tmp_path / "framemode.inc"
    inc.write_text("frameMode = full\nExtremes.max = 1\n")
    conf = tmp_path / "main.conf"
    conf.write_text(
        "[f1:cFunctionals]\n"
        "reader.dmLevel = lld\nwriter.dmLevel = func\n"
        "\\{framemode.inc}\n"
        "functionalsEnabled = Extremes\n")
    p = load_conf(str(conf))
    s = p.section("f1")
    assert s is not None
    assert s.options.get("frameMode") == "full"
    assert s.options.get("Extremes.max") == 1
    # the option AFTER the include also lands in the same section
    assert s.options.get("functionalsEnabled") == "Extremes"
    assert not [u for u in p.unresolved if "outside any section" in u]


def test_cm_registry_first_occurrence_default(tmp_path):
    """\\cm[name{default}:d] registers; a later bare \\cm[name] reuses the
    registered default (eGeMAPS referencing GeMAPS-registered options) —
    including include-path \\cm refs resolved relative to the declaring
    file."""
    from opensmile_spark.smileconf import load_conf
    shared = tmp_path / "shared"
    shared.mkdir()
    (shared / "mode.inc").write_text("smaWin = 5\n")
    (tmp_path / "first.inc").write_text(
        "[s1:cContourSmoother]\nreader.dmLevel = a\nwriter.dmLevel = b\n"
        "\\{\\cm[modeConf{shared/mode.inc}:mode include]}\n")
    (tmp_path / "second.inc").write_text(
        "[s2:cContourSmoother]\nreader.dmLevel = b\nwriter.dmLevel = c\n"
        "\\{\\cm[modeConf]}\n")
    conf = tmp_path / "main.conf"
    conf.write_text("\\{first.inc}\n\\{second.inc}\n")
    p = load_conf(str(conf))
    assert p.section("s1").options.get("smaWin") == 5
    assert p.section("s2").options.get("smaWin") == 5
    assert not [u for u in p.unresolved if "no value" in u]
    # explicit -cm value still beats the registered default
    (shared / "mode2.inc").write_text("smaWin = 9\n")
    p2 = load_conf(str(conf), cm={"modeConf": "shared/mode2.inc"})
    assert p2.section("s2").options.get("smaWin") == 9


def test_block_comments_stripped(tmp_path):
    from opensmile_spark.smileconf import parse_conf_text
    p = parse_conf_text(
        "/*\n"
        "this whole block is a comment [fake:cSection]\n"
        "*/\n"
        "[real:cEnergy]\nreader.dmLevel = x\nwriter.dmLevel = y\n"
        "/* inline-opened\n   still comment */\n"
        "rms = 1\n")
    assert p.section("real") is not None
    assert p.section("real").options.get("rms") == 1
    assert p.section("fake") is None
    assert not [u for u in p.unresolved if "unparsed" in u]


@pytest.mark.parametrize("conf", [
    "/root/reference/config/is09-13/IS09_emotion.conf",
    "/root/reference/config/is09-13/IS13_ComParE.conf",
    "/root/reference/config/egemaps/v01b/eGeMAPSv01b.conf",
    "/root/reference/config/gemaps/v01b/GeMAPSv01b.conf",
    "/root/reference/config/emobase/emobase.conf",
    "/root/reference/config/compare16/ComParE_2016.conf",
])
def test_flagship_reference_confs_fully_resolve(conf):
    """Every flagship SMILExtract config parses with ZERO unresolved notes
    and compiles to a non-trivial stage plan (functionals + enable-flag
    select stages present)."""
    import os
    if not os.path.isfile(conf):
        pytest.skip("reference config not present")
    from opensmile_spark.smileconf import conf_to_config, load_conf
    p = load_conf(conf)
    assert p.unresolved == [], p.unresolved[:10]
    cfg = conf_to_config(p, ["char_len"])
    kinds = [s["type"] for s in cfg["stages"]]
    assert "functionals" in kinds
    assert len(cfg["report"]["mapped"]) >= 4


@pytest.mark.parametrize("conf,min_cols", [
    ("/root/reference/config/egemaps/v01b/eGeMAPSv01b.conf", 30),
    ("/root/reference/config/is09-13/IS13_ComParE.conf", 200),
])
def test_flagship_confs_execute_end_to_end(spark, conf, min_cols):
    """The compiled flagship configs don't just parse — they RUN: viterbi
    (column carry), valbased gates (including the legitimately-empty
    unvoiced branch), resample (audio-rate period mapped to the event
    grid + re-derived order column), multi-bank functionals via DAG level
    routing, and the funcconcat full-outer key join, ending in one
    feature row per conversation."""
    import os
    if not os.path.isfile(conf):
        pytest.skip("reference config not present")
    from opensmile_spark.config import run_config
    from opensmile_spark.lld import compute_lld
    from opensmile_spark.smileconf import conf_to_config, load_conf
    from opensmile_spark.transcripts import transcripts_from_events

    t = compute_lld(transcripts_from_events(spark, "/root/testdata/sf0.001"))
    cfg = conf_to_config(load_conf(conf), ["char_len"])
    out = run_config(t, cfg)
    rows = out.collect()
    n_convs = t.select("conv_id").distinct().count()
    assert len(rows) == n_convs
    assert len(out.columns) >= min_cols
    # the last functional column is populated for every conversation
    last = out.columns[-1]
    assert all(r[last] is not None for r in rows)


def test_entire_reference_config_tree_compiles():
    """EVERY .conf in the reference tree parses and compiles with ZERO
    unresolved notes (65/65, r4 verdict task 5). The two arff_targets
    files are caller-parameterized include FRAGMENTS — ownerless
    cArffSink class[]/target[] options meant to be spliced into the
    including file's open section — classified as fragment_options, not
    errors; the splice path is pinned by
    test_include_continues_open_section."""
    import glob
    import os
    confs = sorted(glob.glob("/root/reference/config/**/*.conf",
                             recursive=True))
    if not confs:
        pytest.skip("reference config tree not present")
    from opensmile_spark.smileconf import conf_to_config, load_conf
    fragments = []
    for c in confs:
        p = load_conf(c)            # must not raise
        conf_to_config(p, ["char_len"])   # must not raise
        assert not p.unresolved, (c, p.unresolved[:5])
        if p.fragment_options:
            fragments.append(os.path.basename(c))
            assert any(k.startswith(("class[", "target["))
                       for k, _ in p.fragment_options), c
    assert len(confs) >= 65
    assert all("arff_targets" in f for f in fragments), fragments


def test_every_stage_carrying_reference_conf_executes(spark):
    """THE compat guarantee: every reference config that compiles to at
    least one stage also EXECUTES end-to-end on transcript LLD data and
    yields a non-empty frame. (Configs with no mappable stages are pure
    audio-IO dumps — identity in this column world.)"""
    import glob
    import os
    confs = sorted(glob.glob("/root/reference/config/**/*.conf",
                             recursive=True))
    if not confs:
        pytest.skip("reference config tree not present")
    from opensmile_spark.config import run_config
    from opensmile_spark.lld import compute_lld
    from opensmile_spark.smileconf import conf_to_config, load_conf
    from opensmile_spark.transcripts import transcripts_from_events

    t = compute_lld(
        transcripts_from_events(spark, "/root/testdata/sf0.001")).cache()
    t.count()
    executed = 0
    failures = []
    for c in confs:
        cfg = conf_to_config(load_conf(c), ["char_len"])
        if not cfg["stages"]:
            continue
        try:
            n = run_config(t, cfg).count()
            assert n > 0, c
            executed += 1
        except Exception as ex:              # collect all, assert once
            failures.append((os.path.basename(c), type(ex).__name__,
                             str(ex)[:120]))
    t.unpersist()
    assert not failures, failures
    assert executed >= 45, executed


# ---------------------------------------------------------------------------
# Differential fuzz: the conf->stage mapping itself (r4 verdict task 4).
# The compiled-IS13 golden pins one config; this property-tests the mapping:
# random small confs from the supported component vocabulary must run
# frame-exactly equal to the directly-composed operator chain.
# Reference semantics: configManager.cpp:1746-2460.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as hst

_FUZZ_FAMS = [("Means", "means"), ("Moments", "moments"),
              ("Extremes", "extremes"), ("Percentiles", "percentiles"),
              ("Regression", "regression"), ("Crossings", "crossings")]

_pre_stage = hst.one_of(
    hst.fixed_dictionaries({"kind": hst.just("sma"),
                            "win": hst.sampled_from([3, 5]),
                            "nz": hst.booleans()}),
    hst.fixed_dictionaries({"kind": hst.just("delta"),
                            "win": hst.sampled_from([0, 1, 2])}),
    hst.fixed_dictionaries({"kind": hst.just("mvn")}),
)


@given(chain=hst.lists(_pre_stage, min_size=0, max_size=2),
       fams=hst.lists(hst.sampled_from(_FUZZ_FAMS), min_size=1,
                      max_size=3, unique=True),
       pcs=hst.lists(hst.sampled_from([0.1, 0.2, 0.25, 0.5, 0.75, 0.9]),
                     min_size=1, max_size=3, unique=True),
       interp=hst.booleans())
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_fuzz_conf_equals_direct_composition(spark, lld_small, chain, fams,
                                             pcs, interp):
    from opensmile_spark.functionals import functionals_kernel
    from opensmile_spark.operators import delta_regression, mvn, sma

    pcs = sorted(pcs)
    # ---- build the conf text and the direct composition in lockstep ----
    lines = []
    level = "lld"
    cur = ["char_len"]
    want = lld_small
    for i, stg in enumerate(chain):
        nxt = f"lv{i}"
        if stg["kind"] == "sma":
            lines += [f"[s{i}:cContourSmoother]",
                      f"reader.dmLevel = {level}",
                      f"writer.dmLevel = {nxt}",
                      f"smaWin = {stg['win']}",
                      f"noZeroSma = {int(stg['nz'])}", ""]
            want = sma(want, cur, stg["win"], no_zero_sma=stg["nz"])
            cur = [f"{c}_sma{stg['win']}{'nz' if stg['nz'] else ''}"
                   for c in cur]
        elif stg["kind"] == "delta":
            lines += [f"[s{i}:cDeltaRegression]",
                      f"reader.dmLevel = {level}",
                      f"writer.dmLevel = {nxt}",
                      f"deltawin = {stg['win']}", ""]
            want = delta_regression(want, cur, stg["win"])
            cur = [f"{c}_de" for c in cur]
        else:
            lines += [f"[s{i}:cVectorMVN]",
                      f"reader.dmLevel = {level}",
                      f"writer.dmLevel = {nxt}", ""]
            want = mvn(want, cur)
            cur = [f"{c}_mvn" for c in cur]
        level = nxt
    fam_confs = " ; ".join(f[0] for f in fams)
    lines += ["[func:cFunctionals]",
              f"reader.dmLevel = {level}",
              "writer.dmLevel = out",
              f"functionalsEnabled = {fam_confs}"]
    options = {}
    if any(f[1] == "percentiles" for f in fams):
        for i, p in enumerate(pcs):
            lines.append(f"Percentiles.percentile[{i}] = {p}")
        options["percentiles"] = {"percentiles": tuple(pcs),
                                  "pctlranges": ()}
        if len(pcs) >= 2:
            lines.append("Percentiles.pctlrange[0] = 0-1")
            options["percentiles"]["pctlranges"] = ((0, 1),)
        lines.append(f"Percentiles.interp = {int(interp)}")
        options["percentiles"]["interp"] = interp
    conf = "\n".join(lines) + "\n"

    got, report = _run_conf(lld_small, conf)
    want_out = functionals_kernel(
        want, cur, ("conv_id",),
        families=[f[1] for f in fams],
        options=options or None)

    g = {r["conv_id"]: r for r in got.collect()}
    w = {r["conv_id"]: r for r in want_out.collect()}
    assert set(g) == set(w) and len(g) > 0
    assert sorted(got.columns) == sorted(want_out.columns)
    for cid in w:
        for c in want_out.columns:
            gv, wv = g[cid][c], w[cid][c]
            if isinstance(wv, float):
                ok = (gv == wv or gv == pytest.approx(wv, rel=1e-12)
                      or (wv != wv and gv != gv))
                assert ok, (cid, c, gv, wv)
            else:
                assert gv == wv, (cid, c)
