"""Benchmark forecasters: MEAN / NAIVE / SNAIVE / DRIFT.

Not part of the reference's 10-method registry (R:6-7) but standard
members of the forecast family it builds on, and — crucially for the
correctness harness — their point forecasts AND intervals are exact
closed forms, so they are SQL-expressible and get full DuckDB oracles
(forecast/queries.py), giving the forecast layer hash-checked coverage
the driver can verify end-to-end.

Formulas are the forecast-pkg standards (meanf/naive/snaive/rwf):
  mean:   ŷ=ȳ,          σ_h = σ·sqrt(1 + 1/n)
  naive:  ŷ=y_n,         σ_h = σ·sqrt(h)
  snaive: ŷ=y_{n+h-m·k}, σ_h = σ·sqrt(floor((h-1)/m) + 1)
  drift:  ŷ=y_n + h·b,   σ_h = σ·sqrt(h·(1 + h/(n-1)))
with σ the sd of the corresponding one-step in-sample errors.
"""

from __future__ import annotations

import numpy as np

from .common import bands_from_sigma


class NaiveFamilyModel:
    def __init__(self, y, m, kind):
        self.y = np.asarray(y, float)
        self.m = max(1, int(m))
        self.kind = kind

    def forecast(self, horizon: int) -> dict:
        y, m, n = self.y, self.m, len(self.y)
        h = np.arange(1, horizon + 1, dtype=float)
        if self.kind == "mean":
            mean = np.full(horizon, y.mean())
            resid = y - y.mean()
            sigma = resid.std(ddof=1) if n > 1 else 0.0
            sigma_h = sigma * np.sqrt(1 + 1 / n) * np.ones(horizon)
        elif self.kind == "naive":
            mean = np.full(horizon, y[-1])
            resid = np.diff(y)
            sigma = resid.std(ddof=1) if n > 2 else 0.0
            sigma_h = sigma * np.sqrt(h)
        elif self.kind == "snaive":
            mean = np.array([y[n - m + ((int(hh) - 1) % m)] for hh in h]) \
                if n >= m else np.full(horizon, y[-1])
            resid = y[m:] - y[:-m] if n > m else np.zeros(1)
            sigma = resid.std(ddof=1) if len(resid) > 1 else 0.0
            sigma_h = sigma * np.sqrt(np.floor((h - 1) / m) + 1)
        elif self.kind == "drift":
            b = (y[-1] - y[0]) / (n - 1) if n > 1 else 0.0
            mean = y[-1] + h * b
            resid = np.diff(y) - b
            sigma = resid.std(ddof=1) if n > 2 else 0.0
            sigma_h = sigma * np.sqrt(h * (1 + h / (n - 1))) if n > 1 else np.zeros(horizon)
        else:
            raise ValueError(self.kind)
        return bands_from_sigma(mean, sigma_h)


def fit_naive(y: np.ndarray, frequency: int, kind: str) -> NaiveFamilyModel:
    return NaiveFamilyModel(y, frequency, kind)
