"""TBATS-lite — Box-Cox + trigonometric seasonality + damped-trend ETS.

The ``t`` component of the reference's HYBRID: ``hybridModel``'s default
model set is ``aefnst`` (``TimeSeriesFunctions_GPL_0.5.1.R:324-332``),
and round 1 shipped only ``aefns``.  Full TBATS (De Livera, Hyndman &
Snyder 2011) adds ARMA errors and multiple seasonal periods; this lite
form keeps the signature pieces that drive TBATS's contribution at the
series lengths this engine sees:

- Box-Cox transform (Guerrero-grid lambda, shared with BAGGEDETS),
- trigonometric seasonality — Fourier pairs fitted by least squares on
  the transformed series (TBATS's trig seasonal states, statically
  estimated instead of evolving),
- damped-trend exponential smoothing on the seasonally adjusted
  transform (TBATS's level/trend block),
- forecast = ETS bands + trig extension, inverse-transformed (the
  inverse Box-Cox is monotone, so band ordering survives).

ARMA errors (r8 — closes the last documented TBATS-lite deviation):
full TBATS models the level/trend block's one-step errors as ARMA(p,q)
(De Livera et al. 2011 eq. 2.1's d_t term).  After the damped-ETS fit,
the residuals are fitted with every ARMA(p,q), p,q ∈ {0,1,2}, via the
same CSS objective the ARIMA grid uses (`fit_arima_candidate`, m=1,
d=0, no constant), selected by AICc — (0,0) is in the grid, so white-
noise residuals keep the pre-r8 behavior exactly.  Forecasts add the
ARMA error recursion (future innovations at their zero mean) to the
transformed-scale point forecast; the interval bands SHIFT by the same
correction (their width still comes from the ETS block's residual
sigma — conservative, since the ARMA step explains part of that
variance; documented lite-ness, like the static harmonics).

Remaining deviations from full TBATS, deliberate and documented:
single seasonal period, static harmonic coefficients, band width from
the ETS block rather than the ARMA psi-weight recursion.
"""

from __future__ import annotations

import numpy as np

from .arima import fit_arima_candidate, _css_residuals
from .bagged import _boxcox, _boxcox_lambda, _inv_boxcox
from .ets import fit_ets

_MAX_HARMONICS = 3
_MAX_ARMA = 2


def _arma_candidate_ok(phi, theta) -> bool:
    """Box-Jenkins sanity for an ERROR model: reject fits whose AR or
    MA roots sit at the stationarity/invertibility boundary (the CSS
    optimizer slams the 1.001 constraint when a candidate is
    overparameterized) or whose AR and MA roots nearly CANCEL (a
    common factor — the near-cancelling pair's startup transient can
    soak up white noise for a spurious AICc win; observed on the WN
    regression test: ARMA(2,2) with both root pairs at ~0.77±0.70j).
    forecast::auto.arima's myarima applies the same class of root
    checks before accepting a candidate."""
    if len(phi) == 0 and len(theta) == 0:
        return True
    ar = np.r_[1.0, -np.asarray(phi, float)]
    ma = np.r_[1.0, np.asarray(theta, float)]
    ar_roots = np.roots(ar[::-1]) if len(phi) else np.zeros(0)
    ma_roots = np.roots(ma[::-1]) if len(theta) else np.zeros(0)
    for roots in (ar_roots, ma_roots):
        if len(roots) and np.min(np.abs(roots)) < 1.02:
            return False
    if len(ar_roots) and len(ma_roots):
        d = np.abs(ar_roots[:, None] - ma_roots[None, :])
        if float(d.min()) < 0.05:
            return False
    return True


def _fit_arma_errors(e: np.ndarray):
    """AICc-best ARMA(p,q), p,q <= 2, on the ETS residuals via the
    shared CSS objective, root-guarded (`_arma_candidate_ok`).
    Returns (p, q, phi, theta, a) where ``a`` is the fitted innovation
    series ((0,0) => a = e)."""
    n = len(e)
    best = None
    for p in range(_MAX_ARMA + 1):
        for q in range(_MAX_ARMA + 1):
            fit = fit_arima_candidate(e, n, 1, False, p, q, 0, 0)
            if fit is None:
                continue
            crit, x, _sigma2 = fit
            if not _arma_candidate_ok(x[:p], x[p:p + q]):
                continue
            if best is None or crit < best[0]:
                best = (crit, p, q, x)
    if best is None:
        return 0, 0, np.zeros(0), np.zeros(0), e.copy()
    _, p, q, x = best
    phi, theta = x[:p], x[p:p + q]
    a, _, _ = _css_residuals(e, phi, theta, np.zeros(0), np.zeros(0),
                             1, 0.0)
    return p, q, phi, theta, a


def _arma_error_forecast(phi, theta, e_hist, a_hist, horizon: int):
    """E[e_{n+h}] under the fitted ARMA: the standard recursion with
    future innovations at 0 — w_t = sum(phi_i w_{t-i}) +
    sum(theta_k a_{t-k}) + a_t."""
    p, q = len(phi), len(theta)
    if p == 0 and q == 0:
        return np.zeros(horizon)
    ebuf = list(np.asarray(e_hist, float))
    abuf = list(np.asarray(a_hist, float))
    out = []
    for _ in range(horizon):
        val = 0.0
        for i in range(p):
            val += phi[i] * (ebuf[-1 - i] if len(ebuf) > i else 0.0)
        for k_ in range(q):
            val += theta[k_] * (abuf[-1 - k_] if len(abuf) > k_ else 0.0)
        out.append(val)
        ebuf.append(val)
        abuf.append(0.0)
    return np.asarray(out)


class TbatsLiteModel:
    def __init__(self, y, m, lam, use_bc, k, coef, ets_model, n, arma):
        self.y = np.asarray(y, float)
        self.m = m
        self.lam = lam
        self.use_bc = use_bc
        self.k = k                    # number of Fourier harmonics
        self.coef = coef              # 2k trig coefficients
        self.ets_model = ets_model    # damped ETS on the adjusted series
        self.n = n
        # (p, q, phi, theta, e_hist, a_hist) — ARMA error block
        self.arma = arma

    @property
    def arma_order(self) -> tuple:
        return (self.arma[0], self.arma[1])

    def _arma_correction(self, horizon: int) -> np.ndarray:
        p, q, phi, theta, e_hist, a_hist = self.arma
        return _arma_error_forecast(phi, theta, e_hist, a_hist, horizon)

    def _trig(self, t_idx: np.ndarray) -> np.ndarray:
        if not self.k:
            return np.zeros(len(t_idx))
        cols = []
        for i in range(1, self.k + 1):
            arg = 2 * np.pi * i * t_idx / self.m
            cols.append(np.sin(arg))
            cols.append(np.cos(arg))
        return np.column_stack(cols) @ self.coef

    def point_forecast(self, horizon: int) -> np.ndarray:
        t_fut = np.arange(self.n, self.n + horizon)
        z = (self.ets_model.point_forecast(horizon) + self._trig(t_fut)
             + self._arma_correction(horizon))
        return _inv_boxcox(z, self.lam) if self.use_bc else z

    def forecast(self, horizon: int, seed_key=("tbats",)) -> dict:
        t_fut = np.arange(self.n, self.n + horizon)
        season = self._trig(t_fut) + self._arma_correction(horizon)
        base = self.ets_model.forecast(horizon, seed_key=seed_key)
        out = {}
        for band in ("mean", "lower1", "lower2", "upper1", "upper2"):
            z = np.asarray(base[band]) + season
            out[band] = _inv_boxcox(z, self.lam) if self.use_bc else z
        return out


def fit_tbats_lite(y: np.ndarray, frequency: int) -> TbatsLiteModel:
    y = np.asarray(y, float)
    n = len(y)
    m = max(1, int(frequency))
    if n < 4:
        raise ValueError("series too short for TBATS-lite")
    use_bc = bool(np.all(y > 0))
    lam = _boxcox_lambda(y, m) if use_bc else 1.0
    z = _boxcox(y, lam) if use_bc else y.astype(float)
    # trig seasonality needs two full cycles to be identified
    k = min(_MAX_HARMONICS, (m - 1) // 2) if (m > 1 and n >= 2 * m) else 0
    if k:
        t = np.arange(n)
        cols = [np.ones(n), t]
        for i in range(1, k + 1):
            arg = 2 * np.pi * i * t / m
            cols.append(np.sin(arg))
            cols.append(np.cos(arg))
        A = np.column_stack(cols)
        beta, *_ = np.linalg.lstsq(A, z, rcond=None)
        coef = beta[2:]
        season = A[:, 2:] @ coef
    else:
        coef = np.zeros(0)
        season = np.zeros(n)
    adjusted = z - season
    ets_model = fit_ets(adjusted, 1, damped=True)  # trend block only
    # ARMA(p,q) errors on the trend block's one-step residuals (full
    # TBATS's d_t term) — AICc-selected, (0,0) in the grid
    resid = np.asarray(ets_model.resid, float)
    p, q, phi, theta, a = _fit_arma_errors(resid)
    return TbatsLiteModel(y, m, lam, use_bc, k, coef, ets_model, n,
                          arma=(p, q, phi, theta, resid, a))
