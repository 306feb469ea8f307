"""ETS — exponential smoothing state space, auto-selected by AICc.

Reproduces the semantics of the reference's ETS path
(``TimeSeriesFunctions_GPL_0.5.1.R:165-180``): ``ets(ts, damped=FALSE)``
auto-selects over error/trend/seasonal components by information
criterion; ``damped=TRUE`` (ETSDAMPED, R:167-168) restricts the search to
damped-trend models.  Pure numpy: innovations state space recursions +
Nelder-Mead over smoothing parameters, heuristic initial states (R also
optimizes the initial states; we accept the small numeric difference —
golden tests use tolerances, SURVEY §5.2/§7 hard part (a)).

Model space: error ∈ {A}, trend ∈ {N, A, Ad}, seasonal ∈ {N, A, M}
(multiplicative season only for strictly-positive data; additive-error
with multiplicative season mirrors R's restricted default space for
short/any-sign series).  Prediction intervals: analytic class-1 variance
for additive models, simulation otherwise — matching forecast::forecast.ets's
split.
"""

from __future__ import annotations

import itertools

import numpy as np

from .common import aicc, bands_from_paths, bands_from_sigma, nelder_mead, seeded_rng


def _decompose_initial(y: np.ndarray, m: int, seasonal: str):
    """Heuristic initial level/trend/seasonals (classical decomposition),
    in the spirit of ets()'s 'initstate' heuristic."""
    n = len(y)
    if seasonal != "N" and m > 1 and n >= 2 * m:
        nper = n // m
        fold = y[: nper * m].reshape(nper, m)
        period_means = fold.mean(axis=1, keepdims=True)
        if seasonal == "M":
            idx = fold / np.where(period_means == 0, 1e-9, period_means)
            s0 = idx.mean(axis=0)
            s0 = s0 / s0.mean()
            deseason = y / np.resize(s0, n)
        else:
            idx = fold - period_means
            s0 = idx.mean(axis=0)
            s0 = s0 - s0.mean()
            deseason = y - np.resize(s0, n)
    else:
        s0 = np.zeros(m if m > 1 else 1)
        if seasonal == "M":
            s0 = np.ones(m if m > 1 else 1)
        deseason = y.astype(float)
    k = min(10, n)
    t = np.arange(k, dtype=float)
    A = np.column_stack([np.ones(k), t])
    coef, *_ = np.linalg.lstsq(A, deseason[:k], rcond=None)
    level0, trend0 = float(coef[0]), float(coef[1])
    return level0, trend0, s0


def _run_filter(y, m, trend, seasonal, level0, trend0, s0, alpha, beta, gamma, phi):
    """One pass of the additive-error innovations recursions; returns
    (one-step fitted values, residuals, final state).

    The recursion is inherently sequential, so this is the one numpy-free
    inner loop in the model layer: it runs on native Python floats (IEEE
    doubles, the same arithmetic in the same order as the numpy form), so
    ``fit_ets`` passes ``y`` as a list converted once per fit.  It is
    called once per Nelder-Mead evaluation per candidate model, i.e.
    hundreds of times per fitted series, so the component tests sit
    outside the time loop: one loop per seasonal kind (N, A, M), each
    testing only the precomputed ``has_trend`` flag.  The residual of
    step t is the innovation ``e`` the loop already computed.
    """
    n = len(y)
    lev = float(level0)
    b = float(trend0)
    s = [float(v) for v in s0]
    fitted = [0.0] * n
    resid = [0.0] * n
    has_trend = trend != "N"
    if seasonal == "N":
        for t in range(n):
            f = lev + phi * b if has_trend else lev
            fitted[t] = f
            e = y[t] - f
            if has_trend:
                b = phi * b + beta * e
            lev = f + alpha * e
            resid[t] = e
    elif seasonal == "A":
        for t in range(n):
            i = t % m
            sea = s[i]
            base = lev + phi * b if has_trend else lev
            f = base + sea
            fitted[t] = f
            e = y[t] - f
            if has_trend:
                b = phi * b + beta * e
            s[i] = sea + gamma * e
            lev = base + alpha * e
            resid[t] = e
    else:  # "M"
        for t in range(n):
            i = t % m
            sea = s[i]
            base = lev + phi * b if has_trend else lev
            f = base * sea
            fitted[t] = f
            e = y[t] - f
            denom = sea if abs(sea) > 1e-9 else 1e-9
            if has_trend:
                b = phi * b + beta * e / denom
            s[i] = sea + gamma * e / (base if abs(base) > 1e-9 else 1e-9)
            lev = base + alpha * e / denom
            resid[t] = e
    return np.array(fitted), np.array(resid), (lev, b, np.array(s))


def _forecast_from_state(state, m, trend, seasonal, phi, horizon, offset=0):
    """Point forecasts from the final state.  ``offset`` = n % m, so step h
    reads the seasonal slot the next observation would occupy."""
    lev, b, s = state
    out = np.empty(horizon)
    phis = 0.0
    for h in range(1, horizon + 1):
        if trend == "N":
            base = lev
        else:
            phis += phi ** h if phi < 1.0 else 1.0
            base = lev + phis * b if phi < 1.0 else lev + h * b
        if seasonal == "M":
            out[h - 1] = base * s[(offset + h - 1) % m]
        elif seasonal == "A":
            out[h - 1] = base + s[(offset + h - 1) % m]
        else:
            out[h - 1] = base
    return out


def _n_params(trend, seasonal):
    k = 1  # alpha
    if trend != "N":
        k += 1  # beta
    if trend == "Ad":
        k += 1  # phi
    if seasonal != "N":
        k += 1  # gamma
    return k


class ETSModel:
    """Fitted ETS model state — picklable for the model store (§1.5)."""

    def __init__(self, y, frequency, trend, seasonal, params, state, sigma,
                 aicc_val, resid):
        self.y = np.asarray(y, float)
        self.m = max(1, int(frequency))
        self.trend = trend
        self.seasonal = seasonal
        self.params = params            # (alpha, beta, gamma, phi)
        self.state = state              # (level, trend, seasonals) at end
        self.sigma = sigma
        self.aicc = aicc_val
        self.resid = resid

    def point_forecast(self, horizon: int) -> np.ndarray:
        """Point forecast only — no interval simulation.  Ensemble callers
        (BaggedETS members, Hybrid CV folds) read just the mean; running
        the M-seasonal 2000-path simulation there would be pure waste."""
        _, _, _, phi = self.params
        offset = len(self.y) % self.m
        return _forecast_from_state(self.state, self.m, self.trend,
                                    self.seasonal, phi, horizon, offset)

    def forecast(self, horizon: int, seed_key=("ets",)) -> dict:
        alpha, beta, gamma, phi = self.params
        offset = len(self.y) % self.m
        mean = _forecast_from_state(self.state, self.m, self.trend,
                                    self.seasonal, phi, horizon, offset)
        if self.seasonal == "M":
            # non-class-1 model: simulate paths like forecast.ets does
            rng = seeded_rng(*seed_key, "ets-sim")
            sims = _simulate_paths(self, horizon, 2000, rng)
            return bands_from_paths(mean, sims)
        sigma_h = self.sigma * np.sqrt(_class1_var_multiplier(self, horizon))
        return bands_from_sigma(mean, sigma_h)


def _class1_var_multiplier(model: ETSModel, horizon: int) -> np.ndarray:
    """Analytic h-step variance multipliers for additive (class 1) models
    (Hyndman et al. 2008, Table 6.2)."""
    alpha, beta, gamma, phi = model.params
    m, trend, seasonal = model.m, model.trend, model.seasonal
    out = np.empty(horizon)
    for h in range(1, horizon + 1):
        c2 = 0.0
        for j in range(1, h):
            if trend == "N":
                cj = alpha
            elif trend == "A":
                cj = alpha + beta * j
            else:  # Ad
                phi_sum = phi * (1 - phi ** j) / (1 - phi) if phi < 1 else j
                cj = alpha + beta * phi_sum
            if seasonal == "A" and m > 1 and j % m == 0:
                cj += gamma
            c2 += cj * cj
        out[h - 1] = 1.0 + c2
    return out


def _simulate_paths(model: ETSModel, horizon: int, n_sims: int,
                    rng: np.random.Generator) -> np.ndarray:
    alpha, beta, gamma, phi = model.params
    m, trend, seasonal = model.m, model.trend, model.seasonal
    lev0, b0, s0 = model.state
    offset = len(model.y) % m
    sims = np.empty((n_sims, horizon))
    noise = rng.normal(0.0, model.sigma, size=(n_sims, horizon))
    for i in range(n_sims):
        lev, b, s = lev0, b0, s0.copy()
        for h in range(horizon):
            base = lev if trend == "N" else lev + phi * b
            sea = (s[(offset + h) % m] if seasonal != "N"
                   else (1.0 if seasonal == "M" else 0.0))
            if seasonal == "M":
                f = base * sea
            elif seasonal == "A":
                f = base + sea
            else:
                f = base
            e = noise[i, h]
            sims[i, h] = f + e
            if seasonal == "M":
                lev = base + alpha * e / (sea if abs(sea) > 1e-9 else 1e-9)
                if trend != "N":
                    b = phi * b + beta * e / (sea if abs(sea) > 1e-9 else 1e-9)
                base_nz = base if abs(base) > 1e-9 else 1e-9
                s[(offset + h) % m] = sea + gamma * e / base_nz
            else:
                lev = base + alpha * e
                if trend != "N":
                    b = phi * b + beta * e
                if seasonal == "A":
                    s[(offset + h) % m] = sea + gamma * e
    return sims


def fit_ets(y: np.ndarray, frequency: int, damped: bool | None = False) -> ETSModel:
    """Auto-ETS: search the component space, select by AICc.

    ``damped=False`` → trend ∈ {N, A} (ets(damped=FALSE), R:167);
    ``damped=True``  → trend ∈ {Ad} (ETSDAMPED);
    ``damped=None``  → full space (used by BaggedETS internals).
    """
    y = np.asarray(y, dtype=float)
    n = len(y)
    m = max(1, int(frequency))
    if n < 4:
        # degenerate: fall back to mean model
        mu = float(np.mean(y)) if n else 0.0
        sig = float(np.std(y, ddof=1)) if n > 1 else 0.0
        model = ETSModel(y, 1, "N", "N", (0.5, 0.0, 0.0, 1.0),
                         (mu, 0.0, np.zeros(1)), sig, np.inf,
                         y - mu)
        return model
    if damped is True:
        trends = ["Ad"]
    elif damped is False:
        trends = ["N", "A"]
    else:
        trends = ["N", "A", "Ad"]
    seasonals = ["N"]
    if m > 1 and n >= 2 * m:
        seasonals.append("A")
        if np.all(y > 0):
            seasonals.append("M")

    yl = y.tolist()  # _run_filter's native-float input, built once per fit
    best = None
    for trend, seasonal in itertools.product(trends, seasonals):
        mm = m if seasonal != "N" else 1
        level0, trend0, s0 = _decompose_initial(y, mm, seasonal)
        if seasonal == "M":
            s0 = np.where(np.abs(s0) < 1e-6, 1e-6, s0)

        def objective(params, trend=trend, seasonal=seasonal, mm=mm,
                      level0=level0, trend0=trend0, s0=s0):
            alpha, beta, gamma, phi = _unpack(params, trend, seasonal)
            if not (1e-4 < alpha < 0.9999):
                return 1e12
            if trend != "N" and not (1e-4 < beta < alpha):
                return 1e12
            if seasonal != "N" and not (1e-4 < gamma < 1 - alpha):
                return 1e12
            if trend == "Ad" and not (0.8 <= phi <= 0.98):
                return 1e12
            _, resid, _ = _run_filter(yl, mm, trend, seasonal, level0,
                                      trend0 if trend != "N" else 0.0, s0,
                                      alpha, beta, gamma, phi)
            sse = float(np.sum(resid ** 2))
            if not np.isfinite(sse):
                return 1e12
            return sse

        x0 = _pack_init(trend, seasonal)
        xbest, _ = nelder_mead(objective, x0, max_iter=300)
        alpha, beta, gamma, phi = _unpack(xbest, trend, seasonal)
        alpha = float(np.clip(alpha, 1e-4, 0.9999))
        fitted, resid, state = _run_filter(
            yl, mm, trend, seasonal, level0,
            trend0 if trend != "N" else 0.0, s0, alpha, beta, gamma, phi)
        sse = float(np.sum(resid ** 2))
        if sse <= 0 or not np.isfinite(sse):
            sse = 1e-12
        ll = n * np.log(sse / n)
        k = _n_params(trend, seasonal) + 2 + (mm if seasonal != "N" else 0)
        crit = aicc(ll, k, n)
        sigma = np.sqrt(sse / max(1, n - _n_params(trend, seasonal)))
        model = ETSModel(y, mm, trend, seasonal, (alpha, beta, gamma, phi),
                         state, sigma, crit, resid)
        if best is None or crit < best.aicc:
            best = model
    return best


def _pack_init(trend, seasonal):
    x = [0.3]
    if trend != "N":
        x.append(0.05)
    if seasonal != "N":
        x.append(0.1)
    if trend == "Ad":
        x.append(0.95)
    return np.array(x)


def _unpack(params, trend, seasonal):
    it = iter(params)
    alpha = next(it)
    beta = next(it) if trend != "N" else 0.0
    gamma = next(it) if seasonal != "N" else 0.0
    phi = next(it) if trend == "Ad" else 1.0
    return float(alpha), float(beta), float(gamma), float(phi)
