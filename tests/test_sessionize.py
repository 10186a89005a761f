"""Sessionization semantics (cTurnDetector analogue): gap rule + forced
splits — FIXTURES.md case conv_gaps."""

from opensmile_spark.operators import sessionize, session_bounds
from tests.conftest import make_conv


def test_gap_rule_known_boundaries(spark):
    # gaps: 1s, 30s, 600s, 2h around a 300s threshold -> splits at the
    # 600s and 7200s gaps
    gaps = [1.0, 30.0, 600.0, 7200.0]
    df = make_conv(spark, "g", [1, 2, 3, 4, 5], gaps=gaps)
    out = sessionize(df, gap_seconds=300.0)
    sess = [r["session_id"] for r in out.orderBy("turn_idx").collect()]
    assert sess == [0, 0, 0, 1, 2]


def test_gap_boundary_not_split_at_exact_threshold(spark):
    # gap == threshold is NOT a split (strict >)
    df = make_conv(spark, "g", [1, 2], gaps=[300.0])
    out = sessionize(df, gap_seconds=300.0)
    assert [r["session_id"] for r in out.orderBy("turn_idx").collect()] == [0, 0]


def test_max_turns_forced_split(spark):
    # maxTurnLength analogue (turnDetector.cpp:58-62)
    df = make_conv(spark, "m", list(range(10)), gap_s=1.0)
    out = sessionize(df, gap_seconds=300.0, max_turns=4)
    sess = [r["session_id"] for r in out.orderBy("turn_idx").collect()]
    assert sess == [0, 0, 0, 0, 1, 1, 1, 1, 2, 2]


def test_session_bounds(spark):
    df = make_conv(spark, "b", [1, 2, 3, 4], gaps=[10.0, 1000.0, 10.0])
    out = sessionize(df, gap_seconds=300.0)
    bounds = session_bounds(out).orderBy("session_id").collect()
    assert [b["n_turns"] for b in bounds] == [2, 2]
    assert bounds[0]["session_end"] < bounds[1]["session_start"]


def test_single_turn_conv(spark):
    out = sessionize(make_conv(spark, "s", [42.0]), gap_seconds=300.0)
    assert [r["session_id"] for r in out.collect()] == [0]


def test_turn_detector_hysteresis(spark):
    """cTurnDetector: n_pre frames above threshold to open, n_post below to
    close — hand-traced: an isolated single spike (< n_pre) is no turn; a
    short internal dip (< n_post) does not split a turn; a long dip does."""

    from opensmile_spark.operators import turn_detector
    from tests.conftest import make_conv

    #        0  1  2  3  4  5  6  7  8  9 10 11 12 13 14 15
    vals = [0, 5, 0, 0, 5, 5, 0, 5, 5, 0, 0, 0, 5, 5, 5, 0]
    df = make_conv(spark, "a", [float(v) for v in vals])
    out = turn_detector(df, "x", threshold=1.0, n_pre=2, n_post=2) \
        .orderBy("turn_idx").collect()
    ids = [r["turn_id"] for r in out]
    # spike at 1: alone (gaps >= 2 both sides), 1 frame < n_pre -> no turn
    assert ids[1] is None
    # 4,5 + single-dip 6 + 7,8: one group of 4 active frames -> turn 0
    assert ids[4] == ids[5] == ids[7] == ids[8] == 0
    assert ids[6] is None            # inactive frame inside the turn
    # 12,13,14 after a 3-frame gap (>= n_post) -> new turn 1
    assert ids[12] == ids[13] == ids[14] == 1
    assert ids[0] is None and ids[15] is None
