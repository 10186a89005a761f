"""Golden regression: the flagship preset banks (`egemaps_core` gate —
eGeMAPS- and ComParE-style functionals over smoothed transcript LLDs at
sf0.001) must match the frozen reference allclose at every
(conv_id, session_id). Regenerate ONLY on intentional formula changes
with `python tools/regen_golden.py` (the golden diff is then reviewable).

This is the north-star verification shape: per-entity×timestamp feature
vectors pinned against a golden, run by `python -m pytest -x -q`.
"""

import json
import math
import os

import pytest

GOLDEN = os.path.join(os.path.dirname(__file__), "golden",
                      "egemaps_core_sf0001.json")
KEYS = ["conv_id", "session_id"]
RTOL, ATOL = 1e-9, 1e-12


def dec(v):
    return {"__nan__": float("nan"), "__inf__": float("inf"),
            "__-inf__": float("-inf")}.get(v, v) if isinstance(v, str) \
        else v


@pytest.mark.skipif(not os.path.exists("/root/testdata/sf0.001"),
                    reason="driver testdata not present")
def test_egemaps_core_matches_golden(spark):
    import importlib.util

    with open(GOLDEN) as f:
        golden = json.load(f)

    spec = importlib.util.spec_from_file_location(
        "spark_entry_under_test",
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    df = mod.queries()["egemaps_core"](spark, golden["sf_dir"])

    assert df.columns == golden["columns"], "schema drift vs golden"
    got = [[r[c] for c in golden["columns"]]
           for r in df.orderBy(*KEYS).collect()]
    want = [[dec(v) for v in row] for row in golden["rows"]]
    assert len(got) == len(want), "row-count drift vs golden"

    bad = []
    for i, (g_row, w_row) in enumerate(zip(got, want)):
        for c, g, w in zip(golden["columns"], g_row, w_row):
            if isinstance(w, float):
                if g is None or isinstance(g, str):
                    bad.append((i, c, g, w))
                elif math.isnan(w):
                    if not math.isnan(g):
                        bad.append((i, c, g, w))
                elif math.isinf(w):
                    if g != w:
                        bad.append((i, c, g, w))
                elif not math.isclose(g, w, rel_tol=RTOL, abs_tol=ATOL):
                    bad.append((i, c, g, w))
            elif g != w:
                bad.append((i, c, g, w))
    assert not bad, f"{len(bad)} cells drifted; first 5: {bad[:5]}"


GOLDEN_IS13 = os.path.join(os.path.dirname(__file__), "golden",
                           "is13_compiled_sf0001.json")


@pytest.mark.skipif(not os.path.exists("/root/testdata/sf0.001"),
                    reason="driver testdata not present")
def test_is13_compiled_conf_matches_golden(spark):
    """Golden for the WHOLE compat chain: the reference's IS13_ComParE
    .conf parsed, compiled (DAG level routing, enable-flag selects,
    multi-bank functionals, funcconcat join), and executed on sf0.001
    transcript LLDs must match the frozen output cell-for-cell.
    Regenerate with tools/regen_golden_smileconf.py on intentional
    mapping/formula changes."""
    if not os.path.isfile("/root/reference/config/is09-13/"
                          "IS13_ComParE.conf"):
        pytest.skip("reference config not present")
    from opensmile_spark.config import run_config
    from opensmile_spark.lld import compute_lld
    from opensmile_spark.smileconf import conf_to_config, load_conf
    from opensmile_spark.transcripts import transcripts_from_events

    with open(GOLDEN_IS13) as f:
        golden = json.load(f)
    t = compute_lld(transcripts_from_events(spark, golden["sf_dir"]))
    cfg = conf_to_config(load_conf(golden["conf"]), ["char_len"])
    df = run_config(t, cfg)
    assert df.columns == golden["columns"], "schema drift vs golden"
    got = [[r[c] for c in golden["columns"]]
           for r in df.orderBy("conv_id").collect()]
    want = [[dec(v) for v in row] for row in golden["rows"]]
    assert len(got) == len(want), "row-count drift vs golden"
    bad = []
    for i, (g_row, w_row) in enumerate(zip(got, want)):
        for c, g, w in zip(golden["columns"], g_row, w_row):
            if isinstance(w, float):
                if g is None or isinstance(g, str):
                    bad.append((i, c, g, w))
                elif math.isnan(w):
                    if not math.isnan(g):
                        bad.append((i, c, g, w))
                elif math.isinf(w):
                    if g != w:
                        bad.append((i, c, g, w))
                elif not math.isclose(g, w, rel_tol=RTOL, abs_tol=ATOL):
                    bad.append((i, c, g, w))
            elif g != w:
                bad.append((i, c, g, w))
    assert not bad, f"{len(bad)} cells drifted; first 5: {bad[:5]}"
