"""Theta method — SES on the theta-decomposed series + drift.

Reproduces the semantics of the reference's THETA path
(``TimeSeriesFunctions_GPL_0.5.1.R:126-141``): ``thetam(ts)`` (the
forecastHybrid model-form of forecast::thetaf).  Standard construction
(Assimakopoulos & Nikolopoulos 2000, as implemented by thetaf):

1. test seasonality (autocorrelation at lag m vs its significance bound);
   if seasonal, classically decompose (multiplicative) and de-seasonalize;
2. SES with optimized alpha on the adjusted series (theta=0/2 combination
   == SES + half the linear-regression drift);
3. re-seasonalize; PI from the SES variance formula, widened per step.
"""

from __future__ import annotations

import numpy as np

from .common import bands_from_sigma, nelder_mead


def _seasonal_indices(y: np.ndarray, m: int) -> np.ndarray:
    n = len(y)
    nper = n // m
    fold = y[: nper * m].reshape(nper, m)
    means = fold.mean(axis=1, keepdims=True)
    means = np.where(means == 0, 1e-9, means)
    idx = (fold / means).mean(axis=0)
    return idx / idx.mean()


def is_seasonal(y: np.ndarray, m: int) -> bool:
    """thetaf's seasonality pre-test: |acf(m)| beyond the 90% band."""
    n = len(y)
    if m <= 1 or n < 3 * m:
        return False
    e = y - y.mean()
    denom = float(e @ e)
    if denom <= 0:
        return False
    r = np.array([float(e[k:] @ e[:-k]) / denom for k in range(1, m + 1)])
    tcrit = 1.6448536269514722  # z_{0.95}, the 90% two-sided band
    limit = tcrit * np.sqrt((1 + 2 * np.sum(r[:-1] ** 2)) / n)
    return bool(abs(r[m - 1]) > limit)


class ThetaModel:
    def __init__(self, y, m, seasonal, s_idx, alpha, level, sigma, drift):
        self.y = np.asarray(y, float)
        self.m = m
        self.seasonal = seasonal
        self.s_idx = s_idx
        self.alpha = alpha
        self.level = level          # final SES level on adjusted series
        self.sigma = sigma
        self.drift = drift          # half the OLS slope (theta combination)

    def forecast(self, horizon: int) -> dict:
        alpha = self.alpha
        n = len(self.y)
        h = np.arange(1, horizon + 1, dtype=float)
        # thetaf drift correction term
        damp = (1 - (1 - alpha) ** n) / alpha if alpha > 1e-8 else n
        mean = self.level + self.drift * (h - 1 + damp)
        sigma_h = self.sigma * np.sqrt((h - 1) * alpha ** 2 + 1)
        out = bands_from_sigma(mean, sigma_h)
        if self.seasonal:
            offset = n % self.m
            fac = np.array([self.s_idx[(offset + i) % self.m]
                            for i in range(horizon)])
            out = {k: v * fac for k, v in out.items()}
            # multiplying by a positive factor preserves band order
        return out


def fit_theta(y: np.ndarray, frequency: int) -> ThetaModel:
    y = np.asarray(y, float)
    n = len(y)
    m = max(1, int(frequency))
    # multiplicative seasonal adjustment is only meaningful on strictly
    # positive data (same guard as the ETS 'M' branch): on signed series
    # a near-zero fold mean explodes the indices and a negative factor
    # would invert the prediction bands — fall back to non-seasonal theta
    seasonal = bool(np.all(y > 0)) and is_seasonal(y, m)
    if seasonal:
        s_idx = _seasonal_indices(y, m)
        adj = y / np.resize(s_idx, n)
    else:
        s_idx = np.ones(m)
        adj = y.astype(float)
    if n < 2:
        lvl = float(adj[0]) if n else 0.0
        return ThetaModel(y, m, False, s_idx, 0.5, lvl, 0.0, 0.0)

    def sse_alpha(x):
        a = x[0]
        if not (1e-4 < a < 0.9999):
            return 1e12
        lvl = adj[0]
        sse = 0.0
        for t in range(1, n):
            sse += (adj[t] - lvl) ** 2
            lvl = lvl + a * (adj[t] - lvl)
        return sse

    xbest, sse = nelder_mead(sse_alpha, np.array([0.3]), max_iter=200)
    alpha = float(np.clip(xbest[0], 1e-4, 0.9999))
    lvl = adj[0]
    for t in range(1, n):
        lvl = lvl + alpha * (adj[t] - lvl)
    sigma = np.sqrt(sse / max(1, n - 1))
    # drift = half the OLS slope on the adjusted series (theta-0/2 mix)
    t_ax = np.arange(n, dtype=float)
    A = np.column_stack([np.ones(n), t_ax])
    coef, *_ = np.linalg.lstsq(A, adj, rcond=None)
    drift = float(coef[1]) / 2.0
    return ThetaModel(y, m, seasonal, s_idx, alpha, float(lvl), float(sigma),
                      drift)
