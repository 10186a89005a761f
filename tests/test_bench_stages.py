"""The bench stage registry (tools/stages.py) that bench.py, bench_extra.py
and tools/dump_plans.py time or dump: every stage still builds against the
current operator signatures, the headline suite is the one the bench
records sum, and the flagship crosses the Python boundary once."""

import glob
import json
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"


@pytest.mark.skipif(not os.path.exists(SF),
                    reason="driver testdata not present")
def test_registry_stages_build_and_explain(spark):
    from tools.plan_audit import n_op
    from tools.stages import (
        N_HEADLINE, explain, flagship, load_inputs, stage_table,
    )

    inputs = load_inputs(spark, SF)
    try:
        stages = stage_table(*inputs)
        names = [n for n, _ in stages]
        assert len(set(names)) == len(names)
        for name, build in stages:
            assert "== Physical Plan ==" in explain(build()), name

        with open(os.path.join(REPO, "BENCH_r06.json")) as f:
            recorded = list(json.load(f)["parsed"]["queries"])
        assert names[:N_HEADLINE] == recorded

        plan = explain(flagship(inputs[0]))
        assert n_op("MapInArrow", plan) == 1
        assert n_op("MapInPandas", plan) == 0
    finally:
        inputs[2].unpersist()


def test_tools_do_not_hard_code_the_checkout_path():
    """A tool that puts an absolute checkout path on sys.path imports that
    checkout's engine in the driver while Spark's Python workers import the
    copy the tool runs from; tools derive the root from __file__."""
    files = (glob.glob(os.path.join(REPO, "*.py"))
             + glob.glob(os.path.join(REPO, "tools", "*.py")))
    assert files
    for path in files:
        with open(path) as f:
            src = f.read()
        assert REPO not in src, path
        assert not re.search(r"sys\.path\.insert\(\s*0\s*,\s*[\"']", src), path
