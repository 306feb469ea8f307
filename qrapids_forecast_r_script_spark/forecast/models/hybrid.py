"""HYBRID — CV-error-weighted ensemble of the component forecasters.

Reproduces the reference's HYBRID path
(``TimeSeriesFunctions_GPL_0.5.1.R:321-344``): ``hybridModel(ts,
lambda='auto', windowSize=n-2*cvHorizon, weights='cv.errors', cvHorizon,
horizonAverage=TRUE, a.args=list(stepwise=FALSE),
e.args=list(allow.multiplicative.trend=TRUE), parallel=TRUE,
num.cores=2)``, forecast with ``PI.combination='mean'`` (R:340).

Semantics preserved:
- components: ARIMA + ETS + Theta + NN + STL + TBATS-lite — the full
  'aefnst' default set (R:324-332); the 't' slot is the lite TBATS
  (Box-Cox + trig seasonal + damped ETS, see ``tbats_lite.py`` for the
  documented deviations from full TBATS).
- weights = 1/RMSE from rolling-origin cross-validation with window
  n - 2*cvHorizon, errors averaged over the full horizon
  (horizonAverage=TRUE).
- cvHorizon := the requested horizon (wrapper quirk 3, R:359) — the
  fitted weights depend on the first-requested horizon.
- PI combination = weighted mean of component bands.
- the reference's ``parallel=TRUE, num.cores=2`` becomes Spark task
  parallelism: each series is already one executor task (SURVEY §4).
"""

from __future__ import annotations

import numpy as np

from .arima import fit_arima
from .common import DEGENERATE_ERRORS
from .ets import fit_ets
from .nn import fit_nn
from .stl import fit_stl
from .tbats_lite import fit_tbats_lite
from .theta import fit_theta

# (full fit for the final model, cheaper fit for the CV folds — the CV
# re-fits run 8× per component, so they use a reduced ARIMA grid / fewer
# NN repeats; selection bias is negligible for weighting purposes)
_COMPONENTS = {
    "a": ("ARIMA", lambda y, m: fit_arima(y, m),
          lambda y, m: fit_arima(y, m, max_p=2, max_q=2, max_P=1, max_Q=0,
                                 max_order=3)),
    "e": ("ETS", lambda y, m: fit_ets(y, m, damped=None),
          lambda y, m: fit_ets(y, m, damped=None)),
    "f": ("THETA", lambda y, m: fit_theta(y, m),
          lambda y, m: fit_theta(y, m)),
    "n": ("NN", lambda y, m: fit_nn(y, m, repeats=5),
          lambda y, m: fit_nn(y, m, repeats=2)),
    "s": ("STL", lambda y, m: fit_stl(y, m),
          lambda y, m: fit_stl(y, m)),
    "t": ("TBATS", lambda y, m: fit_tbats_lite(y, m),
          lambda y, m: fit_tbats_lite(y, m)),
}


def _component_forecast(model, horizon, key):
    from ..dispatch import forecast_fitted
    return forecast_fitted(model, horizon, seed_key=("hybrid", key))


def _component_point_forecast(model, horizon, key) -> np.ndarray:
    """Point forecast only — CV weighting reads just the mean, so models
    with simulation-based intervals (NN 1000 paths, M-seasonal ETS 2000
    paths) expose a cheap ``point_forecast`` used here."""
    if hasattr(model, "point_forecast"):
        return np.asarray(model.point_forecast(horizon))
    return np.asarray(_component_forecast(model, horizon, key)["mean"])


def _cv_rmse(y, m, horizon, fit_fn, key):
    """Rolling-origin CV: window = n - 2*horizon (R:326), folds slide one
    step, errors averaged over all steps of every fold (horizonAverage)."""
    n = len(y)
    window = n - 2 * horizon
    if window < max(4, m):
        return None
    errs = []
    max_origin = n - horizon
    origins = range(window, max_origin + 1)
    # cap folds to bound fit count on long series (documented)
    origins = list(origins)[-4:]
    for o in origins:
        train = y[o - window:o]
        actual = y[o:o + horizon]
        try:
            model = fit_fn(train, m)
            fc = _component_point_forecast(model, horizon, key)
            errs.extend((np.asarray(actual) - fc).tolist())
        except DEGENERATE_ERRORS:
            return None
    return fold_rmse(errs)


def fold_rmse(errs) -> float | None:
    """RMSE over every fold's errors concatenated in origin order
    (horizonAverage=TRUE); None when there are no folds."""
    if not len(errs):
        return None
    return float(np.sqrt(np.mean(np.square(errs))))


def hybrid_weights(letters, rmses) -> dict:
    """weights='cv.errors': 1/RMSE per fitted component, normalized;
    a component with no usable RMSE (no folds, a failed fold, NaN or 0)
    takes the mean of the known inverses, or 1 when none is known."""
    inv = {}
    for letter in letters:
        r = rmses.get(letter)
        inv[letter] = (1.0 / r) if (r and r > 0) else None
    known = [v for v in inv.values() if v is not None]
    fallback = float(np.mean(known)) if known else 1.0
    inv = {k: (v if v is not None else fallback) for k, v in inv.items()}
    total = sum(inv.values())
    return {k: v / total for k, v in inv.items()}


def combine_bands(weights, bands_by_letter, horizon) -> dict:
    """PI.combination='mean' (R:340): the weighted sum of the component
    bands, accumulated in ``_COMPONENTS`` order."""
    out = {}
    for k in ("mean", "lower1", "lower2", "upper1", "upper2"):
        acc = np.zeros(horizon)
        for letter in _COMPONENTS:
            if letter in bands_by_letter:
                acc += weights[letter] * np.asarray(bands_by_letter[letter][k])
        out[k] = acc
    return out


class HybridModel:
    def __init__(self, y, m, cv_horizon, models, weights):
        self.y = np.asarray(y, float)
        self.m = m
        self.cv_horizon = cv_horizon   # quirk 3: baked in at train time
        self.models = models           # {letter: fitted model}
        self.weights = weights         # {letter: weight}, sums to 1

    def forecast(self, horizon: int) -> dict:
        bands = {letter: _component_forecast(model, horizon, letter)
                 for letter, model in self.models.items()}
        return combine_bands(self.weights, bands, horizon)


def fit_hybrid(y: np.ndarray, frequency: int, cv_horizon: int = 14) -> HybridModel:
    y = np.asarray(y, float)
    m = max(1, int(frequency))
    models, rmses = {}, {}
    for letter, (name, fit_fn, cv_fit_fn) in _COMPONENTS.items():
        try:
            models[letter] = fit_fn(y, m)
        except DEGENERATE_ERRORS:
            continue
        rmse = _cv_rmse(y, m, cv_horizon, cv_fit_fn, letter)
        rmses[letter] = rmse
    if not models:
        raise ValueError("no hybrid component could be fitted")
    return HybridModel(y, m, cv_horizon, models,
                       hybrid_weights(list(models), rmses))
