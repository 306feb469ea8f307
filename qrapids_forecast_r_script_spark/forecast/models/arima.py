"""Auto-ARIMA — exhaustive order search + CSS fit, pure numpy.

Reproduces the semantics of the reference's ARIMA path
(``TimeSeriesFunctions_GPL_0.5.1.R:84-102``):
``auto.arima(ts, D=NA, stepwise=FALSE, approximation=FALSE)`` — an
exhaustive (non-stepwise) order search selected by AICc, with ``D=1``
forced when ``forceSeasonality`` (ARIMA_FORCE_SEASONALITY, R:87-88).

numpy-only implementation choices:
- d via KPSS unit-root test (auto.arima's default test), D via the
  seasonal-strength heuristic (auto.arima's 'seas' measure).
- ARMA coefficients by conditional-sum-of-squares (CSS) minimized with
  Nelder-Mead; model selection by AICc over the full grid.
- the grid WINNER is then refit by EXACT Gaussian maximum likelihood
  (r5): Harvey-form ARMA state space + Kalman filter with the exact
  stationary initial covariance, concentrated over sigma^2 — the same
  likelihood ``arima()``/``auto.arima(approximation=FALSE)`` maximize,
  so reported coefficients carry ML (not CSS) parity with R.  Selection
  stays CSS-AICc (one exact-ML pass per grid cell would dominate the
  search; CSS and ML agree on ordering in all pinned cases, and the
  published airline-model selection is asserted in the goldens).
- search bounds max p=q=5, P=Q=2 with p+q+P+Q <= max_order=5 — exactly
  auto.arima's defaults for a non-stepwise search (max.order caps the
  total, so the exhaustive grid stays ~126 orders).
- forecast variance via psi-weights of the full (differenced) lag
  polynomial — the standard ARIMA PI construction.
"""

from __future__ import annotations

import itertools

import numpy as np

from .common import aicc, bands_from_sigma, nelder_mead


# ---------------------------------------------------------------------------
# differencing order selection
# ---------------------------------------------------------------------------

def kpss_stat(y: np.ndarray) -> float:
    """KPSS level-stationarity statistic with Bartlett/Newey-West long-run
    variance (lags = trunc(3*sqrt(n)/13), matching urca/forecast)."""
    y = np.asarray(y, float)
    n = len(y)
    e = y - y.mean()
    s = np.cumsum(e)
    lags = int(np.trunc(3 * np.sqrt(n) / 13))
    gamma0 = float(e @ e) / n
    lrv = gamma0
    for k in range(1, lags + 1):
        w = 1 - k / (lags + 1)
        lrv += 2 * w * float(e[k:] @ e[:-k]) / n
    if lrv <= 0:
        lrv = gamma0 if gamma0 > 0 else 1e-12
    return float(np.sum(s ** 2) / (n ** 2 * lrv))


KPSS_CRIT_5PCT = 0.463
_MAX_D = 2            # auto.arima's max.d


def ndiffs(y: np.ndarray) -> int:
    d = 0
    y = np.asarray(y, float)
    while d < _MAX_D and len(y) > 8 and kpss_stat(y) > KPSS_CRIT_5PCT:
        y = np.diff(y)
        d += 1
    return d


def seasonal_strength(y: np.ndarray, m: int) -> float:
    """Wang-Smith-Hyndman seasonal strength on a classical decomposition:
    1 - Var(remainder)/Var(detrended)."""
    n = len(y)
    if m <= 1 or n < 2 * m + 1:
        return 0.0
    # centered moving-average trend
    k = m // 2
    w = np.ones(m) / m
    if m % 2 == 0:
        w = np.concatenate([[0.5], np.ones(m - 1), [0.5]]) / m
    trend = np.convolve(y, w, mode="valid")
    pad = (n - len(trend)) // 2
    detr = y[pad:pad + len(trend)] - trend
    if len(detr) < m:
        return 0.0
    idx = np.arange(len(detr)) % m
    seas = np.array([detr[idx == i].mean() for i in range(m)])
    rem = detr - seas[idx]
    v_detr = float(np.var(detr))
    if v_detr <= 0:
        return 0.0
    return max(0.0, 1.0 - float(np.var(rem)) / v_detr)


def nsdiffs(y: np.ndarray, m: int) -> int:
    return 1 if seasonal_strength(y, m) > 0.64 else 0


# ---------------------------------------------------------------------------
# CSS ARMA fit
# ---------------------------------------------------------------------------

def _expand_polys(phi, theta, Phi, Theta, m):
    """(1 - φB..)(1 - ΦB^m..) and (1 + θB..)(1 + ΘB^m..) as full lag
    polynomials."""
    p, q = len(phi), len(theta)
    P, Q = len(Phi), len(Theta)
    a = np.zeros(p + 1); a[0] = 1.0; a[1:] = -np.asarray(phi)
    A = np.zeros(P * m + 1); A[0] = 1.0
    for i, ph in enumerate(Phi):
        A[(i + 1) * m] = -ph
    arpoly = np.convolve(a, A)           # coefficients of B^0..B^{p+Pm}
    b = np.zeros(q + 1); b[0] = 1.0; b[1:] = np.asarray(theta)
    B = np.zeros(Q * m + 1); B[0] = 1.0
    for i, th in enumerate(Theta):
        B[(i + 1) * m] = th
    mapoly = np.convolve(b, B)
    return arpoly, mapoly


def _css_residuals(w, phi, theta, Phi, Theta, m, c):
    """Conditional-SS residuals of a (seasonal) ARMA on the differenced
    series w."""
    arpoly, mapoly = _expand_polys(phi, theta, Phi, Theta, m)
    n = len(w)
    qfull = len(mapoly) - 1
    # AR side vectorized: z_t = Σ_j arpoly_j w_{t-j} - c  (missing lags = 0,
    # the CSS convention) == full convolution truncated to n
    z = np.convolve(w, arpoly)[:n] - c
    if qfull == 0:
        return z, arpoly, mapoly
    # MA side: e = θ(B)^{-1} z.  Instead of the O(n·q) Python IIR loop,
    # invert the (invertibility-checked) MA polynomial into a truncated
    # AR(∞) filter and apply it with one convolution.  The π-weights
    # decay as ρ^j with ρ = max |1/root|, so the truncation length is
    # chosen PER CANDIDATE from the actual roots to push the tail below
    # 1e-8 (a fixed L=200 is exact only for n ≤ 200: at the 1.001
    # invertibility margin ρ^200 ≈ 0.82, which would materially distort
    # residuals — and hence AICc order selection — on long series with
    # near-boundary MA roots).  L is capped at n, where the inversion is
    # exact by construction.
    # π-weights are generated recursively with ADAPTIVE truncation: stop
    # once the last qfull weights are all below 1e-9 (tighter than the
    # 1e-8 tail target the previous root-radius bound aimed for), capped
    # at n where the inversion is exact by construction.  This avoids a
    # per-candidate np.roots() eigendecomposition — which profiling
    # showed dominating the whole auto-ARIMA grid search — while still
    # sizing L from the weights' actual decay.
    ma = [float(v) for v in mapoly]
    pi_w = [1.0]
    small_run = 0           # consecutive trailing weights below 1e-9
    j = 1
    while j < n and (j <= qfull or small_run < qfull):
        acc = 0.0
        for i in range(1, min(j, qfull) + 1):
            acc -= ma[i] * pi_w[j - i]
        pi_w.append(acc)
        small_run = small_run + 1 if abs(acc) < 1e-9 else 0
        j += 1
    e = np.convolve(z, np.array(pi_w))[:n]
    return e, arpoly, mapoly


def _stationary_cov(T: np.ndarray, RR: np.ndarray) -> np.ndarray:
    """Stationary state covariance: the solution of P = T P T' + RR,
    by the doubling iteration (P_k sums the first 2^k terms of
    sum_j T^j RR T'^j; geometric convergence for stationary T).  O(r^3)
    per step, ~60 steps max — far cheaper than the (I - T (x) T) vec
    solve at seasonal state sizes (r up to ~26 at m=12)."""
    A = T.copy()
    P = RR.copy()
    for _ in range(60):
        P_next = P + A @ P @ A.T
        A_next = A @ A
        if not np.all(np.isfinite(P_next)):
            return P
        if np.max(np.abs(P_next - P)) < 1e-12:
            return P_next
        P, A = P_next, A_next
    return P


def _kalman_deviance(w, phi, theta, Phi, Theta, m, c):
    """Exact Gaussian -2·log-likelihood (up to constants), concentrated
    over sigma^2, of a (seasonal) ARMA on the differenced series ``w``:

        dev = n·log(sigma2_hat) + sum_t log f_t,
        sigma2_hat = (1/n)·sum_t v_t^2 / f_t

    via the Harvey (1993, §3.3) ARMA(r) state-space form — state dim
    r = max(p~, q~+1) over the EXPANDED polynomials, transition T with
    the AR column + superdiagonal identity, R = (1, theta_1..theta_{r-1})',
    observation Z = (1, 0..0), no measurement noise — filtered with the
    EXACT stationary initial covariance (diffuse handling is not needed:
    d and D have already been differenced out, and every candidate is
    stationarity-guarded).  Returns (deviance, sigma2_hat)."""
    arpoly, mapoly = _expand_polys(phi, theta, Phi, Theta, m)
    pe, qe = len(arpoly) - 1, len(mapoly) - 1
    r = max(pe, qe + 1)
    phis = np.zeros(r)
    phis[:pe] = -arpoly[1:]
    R = np.zeros(r)
    R[0] = 1.0
    R[1:qe + 1] = mapoly[1:]
    T = np.zeros((r, r))
    T[:, 0] = phis
    # superdiagonal identity: state j carries the j-step-ahead tail
    for j in range(r - 1):
        T[j, j + 1] = 1.0
    # ``c`` is the AR-equation INTERCEPT (phi(B) w = c + theta(B) e —
    # the CSS convention above), so the process mean to remove before
    # filtering the zero-mean state space is mu = c / phi(1).
    ar1 = float(np.sum(arpoly))
    mu = c / ar1 if abs(ar1) > 1e-8 else 0.0
    z = np.asarray(w, float) - mu
    n = len(z)
    if pe == 0 and qe == 0:
        s2 = float(z @ z) / n if n else 1e-12
        return (n * np.log(max(s2, 1e-300)), max(s2, 1e-300))
    P = _stationary_cov(T, np.outer(R, R))
    a = np.zeros(r)
    ssq = 0.0
    sumlogf = 0.0
    for t in range(n):
        f = P[0, 0]
        if not np.isfinite(f) or f <= 1e-300:
            return (1e12, 1e-12)
        v = z[t] - a[0]
        ssq += v * v / f
        sumlogf += np.log(f)
        # K = T P Z' / f  (Z picks column 0)
        K = (T @ P[:, 0]) / f
        a = T @ a + K * v
        P = T @ P @ T.T + np.outer(R, R) - np.outer(K, K) * f
    s2 = ssq / n if n else 1e-12
    dev = n * np.log(max(s2, 1e-300)) + sumlogf
    return (float(dev), float(max(s2, 1e-300)))


def _ml_refine(w, m, p, q, P, Q, include_const, x_css):
    """Refit the CSS grid winner by exact ML: Nelder-Mead on the
    concentrated Kalman deviance, initialized at the CSS estimates.
    Returns (x, sigma2, deviance); falls back to the CSS point when the
    refit does not improve the exact deviance (the CSS point is always
    evaluated under the SAME likelihood, so the comparison is fair)."""
    k = p + q + P + Q

    def split(x):
        return (x[:p], x[p:p + q], x[p + q:p + q + P],
                x[p + q + P:p + q + P + Q],
                (x[-1] if include_const else 0.0))

    # memoize the best point's sigma2 as the filter computes it, so no
    # extra O(n·r^2) Kalman pass is needed after the search (r5 review)
    best = {"dev": np.inf, "s2": 1e-12}

    def objective(x):
        phi, theta, Phi_, Theta_, c = split(x)
        if np.any(np.abs(x[:k]) > 5):
            return 1e12
        arpoly, mapoly = _expand_polys(phi, theta, Phi_, Theta_, m)
        if not _roots_ok(arpoly) or not _roots_ok(mapoly):
            return 1e12
        dev, s2 = _kalman_deviance(w, phi, theta, Phi_, Theta_, m, c)
        if not np.isfinite(dev):
            return 1e12
        if dev < best["dev"]:
            best["dev"], best["s2"] = dev, s2
        return dev

    dev_css = objective(x_css)
    if dev_css >= 1e12:
        return None
    s2_css = best["s2"]
    x_ml, dev_ml = nelder_mead(objective, np.asarray(x_css, float),
                               max_iter=200 + 60 * k)
    if not np.isfinite(dev_ml) or dev_ml >= dev_css:
        return np.asarray(x_css, float), s2_css, float(dev_css)
    # dev_ml improved on dev_css, so the memo holds its sigma2 — unless
    # Nelder-Mead's returned best differs from the memo's (it cannot:
    # both track the minimum of the same evaluations), guarded anyway
    phi, theta, Phi_, Theta_, c = split(x_ml)
    if abs(dev_ml - best["dev"]) > 1e-9:
        _, s2 = _kalman_deviance(w, phi, theta, Phi_, Theta_, m, c)
    else:
        s2 = best["s2"]
    return x_ml, s2, float(dev_ml)


class ArimaModel:
    """Fitted (seasonal) ARIMA state — picklable for the model store."""

    def __init__(self, y, m, order, seasonal_order, params, c, sigma2,
                 aicc_val, w_resid, arpoly, mapoly):
        self.y = np.asarray(y, float)
        self.m = m
        self.order = order                    # (p, d, q)
        self.seasonal_order = seasonal_order  # (P, D, Q)
        self.params = params                  # (phi, theta, Phi, Theta)
        self.c = c
        self.sigma2 = sigma2
        self.aicc = aicc_val
        self.resid = w_resid
        self.arpoly = arpoly                  # on differenced series
        self.mapoly = mapoly

    def forecast(self, horizon: int) -> dict:
        p, d, q = self.order
        P, D, Q = self.seasonal_order
        m = self.m
        y = self.y
        # difference history
        w = y.copy()
        for _ in range(d):
            w = np.diff(w)
        for _ in range(D):
            w = w[m:] - w[:-m]
        phi_b = self.arpoly
        th_b = self.mapoly
        pfull = len(phi_b) - 1
        qfull = len(th_b) - 1
        e = np.zeros(len(w))
        for t in range(len(w)):
            acc = self.c
            for j in range(1, min(pfull, t) + 1):
                acc -= phi_b[j] * w[t - j]
            macc = 0.0
            for j in range(1, min(qfull, t) + 1):
                macc += th_b[j] * e[t - j]
            e[t] = w[t] - acc - macc
        # recursive point forecasts of w
        wext = list(w)
        eext = list(e)
        for h in range(horizon):
            t = len(wext)
            acc = self.c
            for j in range(1, pfull + 1):
                acc -= phi_b[j] * wext[t - j] if t - j >= 0 else 0.0
            macc = 0.0
            for j in range(1, qfull + 1):
                if 0 <= t - j:
                    macc += th_b[j] * eext[t - j]  # appended future shocks are 0
            wext.append(acc + macc)
            eext.append(0.0)
        wf = np.array(wext[len(w):])
        mean = _integrate(y, wf, d, D, m)
        # psi weights on the fully-differenced scale, then cumulate through
        # the integration polynomial for the variance
        full_ar = phi_b
        # integration polynomial: (1-B)^d (1-B^m)^D
        integ = np.array([1.0])
        for _ in range(d):
            integ = np.convolve(integ, np.array([1.0, -1.0]))
        for _ in range(D):
            zz = np.zeros(m + 1); zz[0] = 1.0; zz[m] = -1.0
            integ = np.convolve(integ, zz)
        ar_total = np.convolve(full_ar, integ)
        psi = _psi_weights(ar_total, th_b, horizon)
        var_h = self.sigma2 * np.cumsum(psi ** 2)
        return bands_from_sigma(mean, np.sqrt(var_h))


def _integrate(y, wf, d, D, m):
    """Invert the differencing operators on forecasts wf given history y."""
    # build the chain of histories at each differencing stage
    stages = [np.asarray(y, float)]
    cur = np.asarray(y, float)
    for _ in range(d):
        cur = np.diff(cur)
        stages.append(cur)
    for _ in range(D):
        cur = cur[m:] - cur[:-m]
        stages.append(cur)
    fc = np.asarray(wf, float)
    # undo seasonal differences first (inverse order of application)
    for level in range(D):
        hist = stages[d + D - 1 - level]
        out = np.empty_like(fc)
        buf = list(hist[-m:]) if len(hist) >= m else [0.0] * m
        for h in range(len(fc)):
            val = fc[h] + buf[h % m]
            buf[h % m] = val
            out[h] = val
        fc = out
    for level in range(d):
        hist = stages[d - 1 - level]
        last = hist[-1]
        out = np.empty_like(fc)
        acc = last
        for h in range(len(fc)):
            acc = acc + fc[h]
            out[h] = acc
        fc = out
    return fc


def _psi_weights(arpoly, mapoly, horizon):
    """MA(∞) weights ψ_j, j=0..horizon-1 from φ(B)ψ(B)=θ(B)."""
    psi = np.zeros(horizon)
    psi[0] = 1.0
    p = len(arpoly) - 1
    q = len(mapoly) - 1
    for j in range(1, horizon):
        val = mapoly[j] if j <= q else 0.0
        for i in range(1, min(j, p) + 1):
            val -= arpoly[i] * psi[j - i]
        psi[j] = val
    return psi


def arima_prep(y: np.ndarray, frequency: int,
               force_seasonality: bool = False):
    """Shared pre-grid state: differencing decisions + the differenced
    series.  Split out of ``fit_arima`` so the order grid can be fanned
    out across Spark tasks (``forecast/hybrid_fanout.py``) — every
    candidate fit and the winner's finalize need exactly this tuple.
    Returns ``(y, m, seasonal, d, D, w, nw, include_const)``."""
    y = np.asarray(y, float)
    n = len(y)
    m = max(1, int(frequency))
    seasonal = m > 1 and n >= 2 * m + 2
    d = ndiffs(y)
    if seasonal:
        D = 1 if force_seasonality else nsdiffs(y, m)  # D=NA→estimated; D=1 forced (R:87-88)
    else:
        D = 0
    # differenced series
    w = y.copy()
    for _ in range(d):
        w = np.diff(w)
    for _ in range(D):
        w = w[m:] - w[:-m]
    nw = len(w)
    include_const = (d + D) < 2
    return y, m, seasonal, d, D, w, nw, include_const


def _arima_short_model(y, m, d, D, w, nw) -> "ArimaModel":
    """nw < 5 white-noise fallback (too short to fit any order)."""
    c = float(np.mean(w)) if nw else 0.0
    sigma2 = float(np.var(w)) if nw > 1 else 1e-8
    return ArimaModel(y, m, (0, d, 0), (0, D, 0), ((), (), (), ()), c,
                      sigma2, np.inf, w - c, np.array([1.0]), np.array([1.0]))


def arima_candidate_grid(seasonal: bool, max_p: int = 5, max_q: int = 5,
                         max_P: int = 2, max_Q: int = 2,
                         max_order: int = 5) -> list[tuple[int, int, int, int]]:
    """The exhaustive (stepwise=FALSE) order grid, in the exact
    enumeration order ``fit_arima`` walks it — candidate INDEX is the
    tie-break, so the fan-out's grid walk must share this ordering."""
    Ps = range(max_P + 1) if seasonal else [0]
    Qs = range(max_Q + 1) if seasonal else [0]
    return [(p, q, P, Q)
            for p, q, P, Q in itertools.product(
                range(max_p + 1), range(max_q + 1), Ps, Qs)
            if p + q + P + Q <= max_order]


def fit_arima_candidate(w: np.ndarray, nw: int, m: int, include_const: bool,
                        p: int, q: int, P: int, Q: int):
    """CSS fit of ONE candidate order — the unit of grid fan-out.
    Returns ``(crit, xfit, sigma2)`` or None when the differenced
    series is too short for the order.  Deterministic: same (w, order)
    → bitwise-same result wherever it runs (seeded-free Nelder-Mead
    from a fixed start), so the distributed grid reproduces the
    sequential ``fit_arima`` argmin exactly."""
    k = p + q + P + Q
    if nw <= k + 2:
        return None

    def objective(x, p=p, q=q, P=P, Q=Q):
        phi = x[:p]
        theta = x[p:p + q]
        Phi = x[p + q:p + q + P]
        Theta = x[p + q + P:p + q + P + Q]
        c = x[-1] if include_const else 0.0
        if np.any(np.abs(phi) > 5) or np.any(np.abs(theta) > 5):
            return 1e12
        # stationarity/invertibility guard BEFORE the residual pass —
        # avoids wasted work and float overflow on explosive params
        arpoly, mapoly = _expand_polys(phi, theta, Phi, Theta, m)
        if not _roots_ok(arpoly) or not _roots_ok(mapoly):
            return 1e12
        e, _, _ = _css_residuals(w, phi, theta, Phi, Theta, m, c)
        sse = float(e @ e)
        return sse if np.isfinite(sse) else 1e12

    nx = k + (1 if include_const else 0)
    if nx == 0:
        e = w.copy()
        sse = float(e @ e)
        xfit = np.array([])
    else:
        x0 = np.concatenate([np.full(k, 0.1),
                             [np.mean(w)] if include_const else []])
        xfit, sse = nelder_mead(objective, x0, max_iter=200 + 60 * k)
    sigma2 = sse / nw if nw else 1e-8
    if sigma2 <= 0:
        sigma2 = 1e-12
    ll = nw * np.log(sigma2)
    crit = aicc(ll, nx, nw)
    return crit, xfit, sigma2


def fit_arima(y: np.ndarray, frequency: int, force_seasonality: bool = False,
              max_p: int = 5, max_q: int = 5, max_P: int = 2, max_Q: int = 2,
              max_order: int = 5) -> ArimaModel:
    """Exhaustive auto-ARIMA (stepwise=FALSE semantics, R:90).

    Search bounds are auto.arima's own defaults — max.p=max.q=5,
    max.P=max.Q=2, with ``max.order=5`` capping p+q+P+Q exactly as
    auto.arima does for a non-stepwise search, so the grid is ~126
    orders, not 6·6·3·3.  (Round 1 capped at 3/3/1/1; the widened grid
    restores selection parity on long-memory series — see
    ``test_arima_grid_reaches_high_orders``.)"""
    y, m, seasonal, d, D, w, nw, include_const = arima_prep(
        y, frequency, force_seasonality)
    if nw < 5:
        return _arima_short_model(y, m, d, D, w, nw)
    (p, q, P, Q), (crit, x, sigma2) = best_arima_candidate(
        (order, fit_arima_candidate(w, nw, m, include_const, *order))
        for order in arima_candidate_grid(seasonal, max_p, max_q,
                                          max_P, max_Q, max_order))
    return finalize_arima_winner(y, m, d, D, w, nw, include_const,
                                 p, q, P, Q, x, sigma2, crit)


def best_arima_candidate(fits):
    """The grid walk: ``fits`` yields ``(order, fit)`` in grid order,
    ``fit`` being ``fit_arima_candidate``'s ``(crit, xfit, sigma2)`` or
    None (order too long, skipped).  Returns the first strictly-best
    ``(order, fit)`` — an earlier order wins a tie, and a NaN criterion
    never beats anything."""
    best = None
    for order, fit in fits:
        if fit is not None and (best is None or fit[0] < best[1][0]):
            best = (order, fit)
    return best


def finalize_arima_winner(y, m, d, D, w, nw, include_const,
                          p, q, P, Q, x, sigma2, crit) -> ArimaModel:
    """Winner post-processing shared by the sequential and fanned-out
    grid searches: exact-ML refinement + model construction."""
    # Exact-ML refinement of the winner (r5): one Kalman-deviance
    # Nelder-Mead from the CSS point.  Skipped for degenerate
    # (numerically exact) fits, where sigma2 ~ 0 sends log(sigma2) to
    # -inf and there is nothing to improve; guarded to never return a
    # point worse than CSS under the exact likelihood.
    k = p + q + P + Q
    # Length cap on the exact-ML refit: the CSS-vs-ML estimate gap is
    # the O(1) stationary-initialization term against an O(n)
    # conditional sum, so it shrinks as O(1/n) — and the Kalman pass is
    # an O(n·r^2) python loop per objective evaluation.  512 covers the
    # reference's whole workload shape (daily metric series, n ~ 10^2,
    # R:32) and the published small-sample cases (airline n=131) while
    # keeping long-series fits (hybrid CV folds at n >= 1k) at CSS cost.
    # R's auto.arima itself flips to its CSS approximation above n=150.
    if k >= 1 and sigma2 > 1e-10 and len(x) and nw <= 512:
        # Degeneracy guard: when the conditional (CSS) fit is already
        # numerically EXACT past its startup terms — a deterministic
        # series like 100*0.8^t — the data has measure zero under any
        # stochastic ARMA and the exact likelihood is dominated by the
        # stationary-initialization term log f_1 (which rewards pushing
        # roots toward the unit circle, wrecking the forecasts).  Keep
        # the CSS point there; refit by ML only on genuinely noisy fits.
        phi0 = tuple(x[:p]); theta0 = tuple(x[p:p + q])
        Phi0 = tuple(x[p + q:p + q + P])
        Theta0 = tuple(x[p + q + P:p + q + P + Q])
        c0 = float(x[-1]) if include_const else 0.0
        e0, arp0, map0 = _css_residuals(w, phi0, theta0, Phi0, Theta0, m, c0)
        s = min(nw - 1, (len(arp0) - 1) + (len(map0) - 1))
        tail = e0[s:]
        scale = float(w @ w) + 1e-300
        # threshold 1e-8: a noisy fit's tail never drops below ~1e-1 of
        # the series energy, while a numerically-exact fit sits at the
        # optimizer's convergence floor (~5e-10 observed — Nelder-Mead
        # stops at phi = 0.79998, not 0.8 exactly)
        degenerate = (len(tail) == 0
                      or float(tail @ tail) < 1e-8 * scale)
        if not degenerate:
            refined = _ml_refine(w, m, p, q, P, Q, include_const, x)
            if refined is not None:
                x, sigma2, dev_ml = refined
                nx = k + (1 if include_const else 0)
                crit = aicc(dev_ml, nx, nw)
    phi = tuple(x[:p]); theta = tuple(x[p:p + q])
    Phi = tuple(x[p + q:p + q + P]); Theta = tuple(x[p + q + P:p + q + P + Q])
    c = float(x[-1]) if include_const and len(x) else 0.0
    e, arpoly, mapoly = _css_residuals(w, phi, theta, Phi, Theta, m, c)
    return ArimaModel(y, m, (p, d, q), (P, D, Q), (phi, theta, Phi, Theta),
                      c, sigma2, crit, e, arpoly, mapoly)


_ROOT_EPS = 0.001     # roots must lie outside |B| = 1 + _ROOT_EPS


def _roots_ok(poly) -> bool:
    """All roots of 1 + c1 B + ... outside |B| = 1 + eps, eps = _ROOT_EPS.

    Implemented via the Schur-Cohn reduction instead of an
    eigendecomposition: B-roots outside radius 1+eps ⟺ the reversed
    monic polynomial (roots 1/B_i), rescaled by r0 = 1/(1+eps), has all
    roots strictly inside the unit circle; that holds iff every
    reflection coefficient of the reduction is < 1 in magnitude.  O(k²)
    scalar work vs O(k³)+allocation for the companion-matrix eig — this
    guard runs once per Nelder-Mead evaluation per grid candidate, where
    profiling showed np.roots() dominating the entire ARIMA search.
    """
    k = len(poly) - 1
    if k <= 0:
        return True
    if np.all(np.abs(poly[1:]) < 1e-12):
        return True
    r0 = 1.0 / (1.0 + _ROOT_EPS)
    # reversed poly z^k + c1 z^{k-1} + ... + ck, rescaled z → r0·u:
    # monic coeffs a_j = c_j / r0^j for the u^{k-j} term
    a = [1.0]
    scale = 1.0
    for j in range(1, k + 1):
        scale *= r0
        a.append(float(poly[j]) / scale)
    while len(a) > 1:
        kc = a[-1]
        if abs(kc) >= 1.0:
            return False
        denom = 1.0 - kc * kc
        a = [(a[j] - kc * a[len(a) - 1 - j]) / denom
             for j in range(len(a) - 1)]
    return True
