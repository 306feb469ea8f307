"""BaggedETS — bootstrap-aggregated ETS ensemble.

Reproduces the reference's BAGGEDETS path
(``TimeSeriesFunctions_GPL_0.5.1.R:204-219``): ``baggedETS(ts)`` =
Box-Cox + STL (or loess) decomposition + moving-block bootstrap of the
remainder (bld.mbb.bootstrap), an ETS fit per bootstrapped series, point
forecast = ensemble mean, the single band = min/max envelope across the
ensemble — which the reference then duplicates into both band pairs
(``lower1 = lower2``, R:216-217; preserved, reference quirk 2).

Deviations (documented): Box-Cox lambda by Guerrero-style grid instead
of closed-form optimization.  The replicate count is baggedETS's default
``num=100`` (``NUM_REPLICATES``), fixed because the reference never sets
it; ``bagged_fanout`` reads the same constant, which its exact parity
with the single-task fit depends on.
"""

from __future__ import annotations

import numpy as np

from .common import seeded_rng
from .ets import fit_ets
from .stl import stl_decompose

NUM_REPLICATES = 100  # baggedETS(num = 100), the forecast package default


# Box-Cox lambda search range: bld.mbb.bootstrap's BoxCox.lambda(x,
# lower=0, upper=1) restriction (R:205)
_BC_LOWER, _BC_UPPER = 0.0, 1.0


def _boxcox_lambda(y: np.ndarray, m: int = 2) -> float:
    """Guerrero's Box-Cox lambda (Guerrero 1993), the R-faithful
    blocking (r8 alignment with the relational replay
    `boxcox_guerrero_lambda`): split the LAST floor(n/period)*period
    observations into length-``period`` blocks (period = max(2, m),
    forecast:::guerrero's x.mat), per-block mean/sd, and pick the
    grid lambda in [_BC_LOWER, _BC_UPPER] = [0, 1] minimizing the
    coefficient of variation of sd_h / mean_h^(1-lambda); the 0.1 grid
    (vs R's continuous optimize()) is the documented deviation,
    shared with the oracled query so engine and query return the
    SAME decision (pinned by test).  Ties break to the smaller
    lambda, matching the query's rounded-CV argmin."""
    if np.any(y <= 0):
        return 1.0
    n = len(y)
    period = max(2, int(m))
    nyr = n // period
    if nyr < 2:
        return 1.0
    tail = y[n - nyr * period:]
    blocks = tail.reshape(nyr, period)
    means = blocks.mean(axis=1)
    sds = blocks.std(axis=1, ddof=1)
    if np.any(means <= 0):
        return 1.0
    best_lam, best_cv = 1.0, np.inf
    n_steps = int(round((_BC_UPPER - _BC_LOWER) / 0.1))
    for i in range(n_steps + 1):
        lam = _BC_LOWER + i * 0.1
        ratio = sds / np.power(means, 1.0 - lam)
        mu = ratio.mean()
        if mu <= 0:
            continue
        cv = round(float(ratio.std(ddof=1) / mu), 6)
        if np.isfinite(cv) and cv < best_cv:
            best_lam, best_cv = lam, cv
    return float(best_lam)


def _boxcox(y, lam):
    if lam == 0:
        return np.log(y)
    return (np.power(y, lam) - 1) / lam


def _inv_boxcox(z, lam):
    if lam == 0:
        return np.exp(z)
    return np.power(np.clip(lam * z + 1, 1e-9, None), 1.0 / lam)


def mbb_bootstrap(y: np.ndarray, m: int, num: int,
                  rng: np.random.Generator) -> list[np.ndarray]:
    """bld.mbb.bootstrap: Box-Cox → decompose → moving-block bootstrap of
    the remainder → reconstruct → inverse Box-Cox.  First replicate is the
    original series (R behavior)."""
    n = len(y)
    lam = _boxcox_lambda(y, m)
    z = _boxcox(y, lam) if np.all(y > 0) else y.astype(float)
    use_bc = np.all(y > 0)
    if m > 1 and n >= 2 * m:
        trend, seasonal, remainder = stl_decompose(z, m)
    else:
        from .stl import loess_smooth
        trend = loess_smooth(z, max(3, (n // 4) | 1))
        seasonal = np.zeros(n)
        remainder = z - trend
    block = 2 * m if m > 1 else 8
    block = min(block, max(2, n - 1))
    out = [y.astype(float)]
    for _ in range(num - 1):
        # moving-block bootstrap of the remainder
        n_blocks = int(np.ceil(n / block)) + 2
        starts = rng.integers(0, max(1, n - block + 1), size=n_blocks)
        boot = np.concatenate([remainder[s:s + block] for s in starts])
        offset = rng.integers(0, block) if block > 1 else 0
        boot = boot[offset:offset + n]
        if len(boot) < n:
            boot = np.pad(boot, (0, n - len(boot)), mode="wrap")
        recon = trend + seasonal + boot
        out.append(_inv_boxcox(recon, lam) if use_bc else recon)
    return out


class BaggedETSModel:
    def __init__(self, y, m, members):
        self.y = np.asarray(y, float)
        self.m = m
        self.members = members      # fitted ETSModel per bootstrap replicate

    def forecast(self, horizon: int) -> dict:
        # members contribute POINT forecasts only (the envelope is the
        # min/max across members) — point_forecast skips the M-seasonal
        # 2000-path interval simulation each full forecast() would run
        return envelope(np.array([mem.point_forecast(horizon)
                                  for mem in self.members]))


def envelope(points: np.ndarray) -> dict:
    """The ensemble's bands from its (member × step) point forecasts:
    mean, and the min/max envelope as the single band duplicated into
    both pairs (R:216-217)."""
    lower = points.min(axis=0)
    upper = points.max(axis=0)
    return {"mean": points.mean(axis=0), "lower1": lower, "lower2": lower,
            "upper1": upper, "upper2": upper}


def fit_bagged_ets(y: np.ndarray, frequency: int,
                   seed_key=("bagged",)) -> BaggedETSModel:
    y = np.asarray(y, float)
    m = max(1, int(frequency))
    rng = seeded_rng(*seed_key, "mbb")
    series = mbb_bootstrap(y, m, NUM_REPLICATES, rng)
    members = [fit_ets(s, m, damped=None) for s in series]
    return BaggedETSModel(y, m, members)
