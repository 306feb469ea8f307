"""NN — autoregressive single-hidden-layer network (nnetar semantics).

Reproduces the reference's NN path
(``TimeSeriesFunctions_GPL_0.5.1.R:282-297``): ``nnetar(ts)`` with
``forecast(model, h, PI=TRUE)`` — simulated prediction intervals (R:293).

nnetar defaults reproduced: p = AR order selected by Yule-Walker AIC on
the (seasonally adjusted) series, P = 1 seasonal lag when m > 1,
hidden size = round((p + P + 1) / 2), an ensemble of ``repeats=20``
networks averaged, inputs/outputs scaled.  Training is full-batch
gradient descent with momentum in numpy (no sklearn in the container).
PI=TRUE → simulate future paths with bootstrapped residual innovations.
"""

from __future__ import annotations

import numpy as np

from .common import bands_from_paths, seeded_rng

# simulated future paths behind the PI=TRUE bands (R:293)
_N_PATHS = 1000


_YW_MAX_P = 10       # largest AR order the Yule-Walker AIC search tries

# _MLP training: full-batch GD steps, learning rate, momentum, L2 decay
_TRAIN_ITERS = 400
_TRAIN_LR = 0.1
_TRAIN_MOMENTUM = 0.9
_TRAIN_DECAY = 1e-4


def _yule_walker_order(y: np.ndarray) -> int:
    """AR order by Yule-Walker + AIC (R's ar() default selection)."""
    n = len(y)
    max_p = min(_YW_MAX_P, n // 3)
    if max_p < 1:
        return 1
    e = y - y.mean()
    denom = float(e @ e)
    if denom <= 0:
        return 1
    r = np.array([1.0] + [float(e[k:] @ e[:-k]) / denom for k in range(1, max_p + 1)])
    best_p, best_aic = 1, np.inf
    for p in range(1, max_p + 1):
        R = np.array([[r[abs(i - j)] for j in range(p)] for i in range(p)])
        try:
            phi = np.linalg.solve(R, r[1:p + 1])
        except np.linalg.LinAlgError:
            continue
        sigma2 = max(1e-12, r[0] - float(phi @ r[1:p + 1]))
        aic = n * np.log(sigma2) + 2 * p
        if aic < best_aic:
            best_p, best_aic = p, aic
    return best_p


def _make_lag_matrix(y: np.ndarray, lags: list[int]):
    maxlag = max(lags)
    n = len(y)
    rows = n - maxlag
    X = np.empty((rows, len(lags)))
    for j, lag in enumerate(lags):
        X[:, j] = y[maxlag - lag:n - lag]
    t = y[maxlag:]
    return X, t


class _MLP:
    """One hidden sigmoid layer, linear output, full-batch GD + momentum."""

    def __init__(self, n_in, n_hidden, rng):
        lim = 0.5
        self.W1 = rng.uniform(-lim, lim, (n_in, n_hidden))
        self.b1 = rng.uniform(-lim, lim, n_hidden)
        self.W2 = rng.uniform(-lim, lim, n_hidden)
        self.b2 = rng.uniform(-lim, lim)

    def predict(self, X):
        H = 1.0 / (1.0 + np.exp(-(X @ self.W1 + self.b1)))
        return H @ self.W2 + self.b2

    def train(self, X, t):
        lr, momentum, decay = _TRAIN_LR, _TRAIN_MOMENTUM, _TRAIN_DECAY
        n = len(t)
        vW1 = np.zeros_like(self.W1); vb1 = np.zeros_like(self.b1)
        vW2 = np.zeros_like(self.W2); vb2 = 0.0
        for _ in range(_TRAIN_ITERS):
            Z = X @ self.W1 + self.b1
            H = 1.0 / (1.0 + np.exp(-Z))
            out = H @ self.W2 + self.b2
            err = out - t
            gW2 = H.T @ err / n + decay * self.W2
            gb2 = float(err.mean())
            dH = np.outer(err, self.W2) * H * (1 - H)
            gW1 = X.T @ dH / n + decay * self.W1
            gb1 = dH.mean(axis=0)
            vW2 = momentum * vW2 - lr * gW2; self.W2 += vW2
            vb2 = momentum * vb2 - lr * gb2; self.b2 += vb2
            vW1 = momentum * vW1 - lr * gW1; self.W1 += vW1
            vb1 = momentum * vb1 - lr * gb1; self.b1 += vb1


class NNModel:
    def __init__(self, y, m, lags, nets, mu, sd, resid):
        self.y = np.asarray(y, float)
        self.m = m
        self.lags = lags
        self.nets = nets
        self.mu = mu
        self.sd = sd
        self.resid = resid

    def _predict_next(self, history: np.ndarray) -> float:
        x = np.array([(history[-lag] - self.mu) / self.sd for lag in self.lags])
        preds = [net.predict(x[None, :])[0] for net in self.nets]
        return float(np.mean(preds)) * self.sd + self.mu

    def point_forecast(self, horizon: int) -> np.ndarray:
        """Iterated one-step point predictions only — no bootstrap-path
        simulation (used by Hybrid CV, which reads just the mean)."""
        hist = list(self.y)
        mean = np.empty(horizon)
        for h in range(horizon):
            nxt = self._predict_next(np.asarray(hist))
            mean[h] = nxt
            hist.append(nxt)
        return mean

    def forecast(self, horizon: int, seed_key=("nn",)) -> dict:
        mean = self.point_forecast(horizon)
        # PI=TRUE (R:293): simulate paths with bootstrapped residuals
        rng = seeded_rng(*seed_key, "nn-sim")
        resid = self.resid[np.isfinite(self.resid)]
        if len(resid) == 0:
            resid = np.array([0.0])
        paths = np.empty((_N_PATHS, horizon))
        for i in range(_N_PATHS):
            sim_hist = list(self.y)
            shocks = rng.choice(resid, size=horizon, replace=True)
            for h in range(horizon):
                nxt = self._predict_next(np.asarray(sim_hist)) + shocks[h]
                paths[i, h] = nxt
                sim_hist.append(nxt)
        return bands_from_paths(mean, paths)


def fit_nn(y: np.ndarray, frequency: int, repeats: int = 20,
           seed_key=("nn",)) -> NNModel:
    y = np.asarray(y, float)
    n = len(y)
    m = max(1, int(frequency))
    sd = float(np.std(y)) or 1.0
    mu = float(np.mean(y))
    ys = (y - mu) / sd
    p = _yule_walker_order(ys)
    lags = list(range(1, p + 1))
    if m > 1 and n > 2 * m:
        if m not in lags:
            lags.append(m)          # P=1 seasonal lag (nnetar default)
    maxlag = max(lags)
    if n <= maxlag + 2:
        lags = [1]
        maxlag = 1
    X, t = _make_lag_matrix(ys, lags)
    size = max(1, round((len(lags) + 1) / 2))
    rng = seeded_rng(*seed_key, "nn-init")
    nets = []
    for _ in range(repeats):
        net = _MLP(len(lags), size, rng)
        net.train(X, t)
        nets.append(net)
    preds = np.mean([net.predict(X) for net in nets], axis=0)
    resid = (t - preds) * sd
    return NNModel(y, m, lags, nets, mu, sd, resid)
