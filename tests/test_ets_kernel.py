"""ETS innovations filter: the per-seasonal-kind loops in
``models/ets.py::_run_filter`` must reproduce the generic single loop
they replaced to the bit, for every (trend, seasonal) pair.

``_generic_run_filter`` below is that loop, kept as the oracle: one time
loop whose body tests the trend and seasonal kinds at every step.  Comparison is by bit pattern (``tobytes``), which is stricter than
``array_equal``: it also tells -0.0 from 0.0 and compares NaN payloads.
"""

import itertools

import numpy as np
import pytest

from qrapids_forecast_r_script_spark.forecast.models.ets import _run_filter


def _generic_run_filter(y, m, trend, seasonal, level0, trend0, s0, alpha,
                        beta, gamma, phi):
    n = len(y)
    yl = [float(v) for v in y]
    lev = float(level0)
    b = float(trend0)
    s = [float(v) for v in s0]
    fitted = [0.0] * n
    has_trend = trend != "N"
    for t in range(n):
        sea = s[t % m] if seasonal != "N" else (1.0 if seasonal == "M" else 0.0)
        base = lev + phi * b if has_trend else lev
        if seasonal == "M":
            f = base * sea
        elif seasonal == "A":
            f = base + sea
        else:
            f = base
        fitted[t] = f
        e = yl[t] - f
        if seasonal == "M":
            denom = sea if abs(sea) > 1e-9 else 1e-9
            newlev = base + alpha * e / denom
        else:
            newlev = base + alpha * e
        if has_trend:
            if seasonal == "M":
                b = phi * b + beta * e / (sea if abs(sea) > 1e-9 else 1e-9)
            else:
                b = phi * b + beta * e
        if seasonal == "M":
            base_nz = base if abs(base) > 1e-9 else 1e-9
            s[t % m] = sea + gamma * e / base_nz
        elif seasonal == "A":
            s[t % m] = sea + gamma * e
        lev = newlev
    fitted = np.array(fitted)
    resid = np.asarray(y, float) - fitted
    return fitted, resid, (lev, b, np.array(s))


def _bits(x) -> bytes:
    return np.asarray(x, dtype=float).tobytes()


def _assert_same(got, want):
    (gf, gr, (gl, gb, gs)), (wf, wr, (wl, wb, ws)) = got, want
    assert _bits(gf) == _bits(wf)
    assert _bits(gr) == _bits(wr)
    assert _bits([gl, gb]) == _bits([wl, wb])
    assert _bits(gs) == _bits(ws)
    assert type(gl) is float and type(gb) is float


def _case(rng, trend, seasonal, tiny):
    """Random series and parameters.  ``tiny`` puts the M-seasonal
    divisors (the seasonal slots and the level) around the 1e-9 guards,
    on both sides and at exactly zero."""
    m = 1 if seasonal == "N" else int(rng.integers(2, 13))
    n = int(rng.integers(1, 80))
    if tiny:
        y = rng.choice([0.0, 1e-10, -1e-10, 1e-9, 2e-9, 1e-12], size=n)
        s0 = rng.choice([0.0, 1e-9, -1e-9, 5e-10, -5e-10, 1.5e-9], size=m)
        level0 = float(rng.choice([0.0, 1e-9, -1e-9, 3e-10, -2e-9]))
        trend0 = float(rng.choice([0.0, 1e-10, -1e-10]))
    else:
        y = rng.normal(50.0, 10.0, size=n)
        s0 = (rng.uniform(0.5, 1.5, size=m) if seasonal == "M"
              else rng.normal(0.0, 3.0, size=m))
        level0, trend0 = float(rng.normal(50.0, 5.0)), float(rng.normal(0.0, 1.0))
    alpha = float(rng.uniform(1e-4, 0.9999))
    beta = float(rng.uniform(1e-4, alpha)) if trend != "N" else 0.0
    gamma = float(rng.uniform(1e-4, 1 - alpha)) if seasonal != "N" else 0.0
    phi = float(rng.uniform(0.8, 0.98)) if trend == "Ad" else 1.0
    if trend == "N":
        trend0 = 0.0  # what fit_ets passes for a trendless model
    return (y, m, trend, seasonal, level0, trend0, s0, alpha, beta, gamma, phi)


@pytest.mark.parametrize("trend,seasonal",
                         list(itertools.product(["N", "A", "Ad"],
                                                ["N", "A", "M"])))
def test_run_filter_bit_equal_to_generic_loop(trend, seasonal):
    rng = np.random.default_rng([ord(c) for c in trend + seasonal])
    for rep in range(60):
        args = _case(rng, trend, seasonal, tiny=seasonal == "M" and rep % 2)
        y, rest = args[0], args[1:]
        # fit_ets hands the kernel a list built once per fit
        _assert_same(_run_filter(y.tolist(), *rest),
                     _generic_run_filter(y, *rest))


def test_m_seasonal_guards_are_hit():
    """A hand-built case that takes both 1e-9 guards on its first step:
    seasonal slot 0.0 and base 3e-10 + 1e-10, both below 1e-9."""
    y = np.array([1e-10, 0.0, 2e-9, -1e-10])
    s0 = np.array([0.0, 5e-10])
    args = (2, "A", "M", 3e-10, 1e-10, s0, 0.5, 0.1, 0.2, 1.0)
    got = _run_filter(y.tolist(), *args)
    _assert_same(got, _generic_run_filter(y, *args))
    assert np.all(np.isfinite(got[0]))
