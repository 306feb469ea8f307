"""STL decomposition + ETS on the seasonally-adjusted series.

Reproduces the semantics of the reference's STL path
(``TimeSeriesFunctions_GPL_0.5.1.R:243-258``): ``mstl(ts)`` fits the
decomposition as the "model"; ``forecast()`` on it (R:254; the reload
path's forecastArima at R:269 dispatches to the same S3 forecast —
reference quirk 1) forecasts the seasonally-adjusted series with ETS and
re-adds the last seasonal cycle (what forecast::forecast.mstl does via
stlf).

Loess here is the classic tricube-weighted local linear smoother,
implemented directly in numpy (no scipy in the container).
"""

from __future__ import annotations

import numpy as np

from .ets import fit_ets


def loess_smooth(y: np.ndarray, span_points: int) -> np.ndarray:
    """Local-linear tricube smoother evaluated at every point, O(n·span)."""
    n = len(y)
    if n == 0:
        return y.copy()
    q = max(3, min(n, int(span_points)))
    x = np.arange(n, dtype=float)
    out = np.empty(n)
    half = q // 2
    for i in range(n):
        lo = max(0, min(i - half, n - q))
        hi = lo + q
        xi = x[lo:hi]
        yi = y[lo:hi]
        d = np.abs(xi - i)
        dmax = d.max() if d.max() > 0 else 1.0
        w = (1 - (d / dmax) ** 3) ** 3
        w = np.clip(w, 0, None)
        W = np.sqrt(w)
        A = np.column_stack([np.ones_like(xi), xi - i]) * W[:, None]
        b = yi * W
        coef, *_ = np.linalg.lstsq(A, b, rcond=None)
        out[i] = float(coef[0])
    return out


_STL_INNER = 3        # seasonal-then-trend smoothing passes


def stl_decompose(y: np.ndarray, m: int):
    """STL-lite: iterated cycle-subseries smoothing + loess trend.

    Returns (trend, seasonal, remainder).  Mirrors stl()'s structure with
    s.window='periodic'-style subseries means smoothed over cycles, which
    is what mstl uses for stable seasonal extraction on short series.
    """
    n = len(y)
    seasonal = np.zeros(n)
    trend = np.zeros(n)
    if m > 1 and n >= 2 * m:
        slots = np.arange(n) % m
        t_span = max(3, int(np.ceil(1.5 * m / (1 - 1.5 / 13))) | 1)  # stl t.window
        for _ in range(_STL_INNER):
            # 1. periodic cycle-subseries seasonal (s.window='periodic'):
            #    per-slot means of the detrended series, centered — no loess
            #    edge effects, which matters on short series
            detr = y - trend
            means = np.array([detr[slots == s].mean() for s in range(m)])
            means = means - means.mean()
            seasonal = means[slots]
            # 2. loess trend on the deseasonalized series
            trend = loess_smooth(y - seasonal, t_span)
    else:
        trend = loess_smooth(y.astype(float), max(3, (n // 4) | 1))
    remainder = y - trend - seasonal
    return trend, seasonal, remainder


def _fit_seasadj_ets(y: np.ndarray, seasonal: np.ndarray):
    """stlf: non-seasonal ETS on the seasonally adjusted series."""
    return fit_ets(y - seasonal, 1, damped=False)


class STLModel:
    """The decomposition IS the model (R:246) — picklable state, plus the
    ETS fitted once on the seasonally adjusted series."""

    def __init__(self, y, m, trend, seasonal, remainder, ets):
        self.y = np.asarray(y, float)
        self.m = m
        self.trend = trend
        self.seasonal = seasonal
        self.remainder = remainder
        self.ets = ets

    def forecast(self, horizon: int) -> dict:
        # a model pickled before the ETS fit moved into fit_stl has no
        # ``ets``: refit it, which is deterministic, so bands are identical
        ets = getattr(self, "ets", None) or _fit_seasadj_ets(self.y, self.seasonal)
        out = ets.forecast(horizon, seed_key=("stl",))
        n = len(self.y)
        if self.m > 1 and n >= self.m:
            # seasonal-naive re-add of the final cycle (forecast.mstl)
            # seasonal value from the last full cycle, slot-aligned with n+i
            add = np.array([self.seasonal[n - self.m + (i % self.m)]
                            for i in range(horizon)])
            out = {k: v + add for k, v in out.items()}
        return out


def fit_stl(y: np.ndarray, frequency: int) -> STLModel:
    y = np.asarray(y, float)
    m = max(1, int(frequency))
    trend, seasonal, remainder = stl_decompose(y, m)
    return STLModel(y, m, trend, seasonal, remainder,
                    _fit_seasadj_ets(y, seasonal))
