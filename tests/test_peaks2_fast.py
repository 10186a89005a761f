"""Optimized f_peaks2 == dict-based reference transcription, exactly."""

import numpy as np
import pytest

from opensmile_spark.functionals.kernels import f_peaks2
from tests.peaks2_dictref import f_peaks2_dictref


def run_both(x, **kw):
    x = np.asarray(x, dtype=np.float64)
    args = (x, x, float(x.min()), float(x.max()), float(x.mean()))
    return f_peaks2(*args, **kw), f_peaks2_dictref(*args, **kw)


@pytest.mark.parametrize("seed", range(8))
def test_random_inputs_exact_equality(seed):
    rng = np.random.RandomState(seed)
    for n in (1, 2, 4, 5, 7, 20, 60, 200):
        for scale in (1.0, 1e4):
            x = rng.rand(n) * scale
            a, b = run_both(x)
            assert a.keys() == b.keys()
            for k in a:
                assert a[k] == b[k], (n, scale, k, a[k], b[k])


def test_structured_inputs_exact_equality():
    cases = [
        np.zeros(30),
        np.arange(30.0),
        np.tile([0.0, 4.0], 15),
        np.concatenate([np.zeros(10), np.ones(10) * 9, np.zeros(10)]),
        np.array([1.0, 1.0, 5.0, 1.0, 1.0, 7.0, 1.0]),
    ]
    for x in cases:
        a, b = run_both(x)
        for k in a:
            assert a[k] == b[k], (k, a[k], b[k])


def test_dyn_rel_thresh_mode():
    rng = np.random.RandomState(3)
    x = rng.rand(80) * 10
    a, b = run_both(x, dynRelThresh=True, relThresh=0.35)
    for k in a:
        assert a[k] == b[k], k


def test_timenorm_variants():
    rng = np.random.RandomState(5)
    x = rng.rand(50) * 10
    for tn in ("frames", "segment", "second"):
        a, b = run_both(x, timeNorm=tn, T=0.5)
        for k in a:
            assert a[k] == b[k], (tn, k)
