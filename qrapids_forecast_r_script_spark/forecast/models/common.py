"""Shared numerics for the pure-numpy forecast models.

This container has no statsmodels/scipy, so the optimizer (Nelder-Mead),
information criteria, and prediction-interval machinery live here.  The
models reproduce the *semantics* of the R forecast stack the reference
drives (``TimeSeriesFunctions_GPL_0.5.1.R``): every forecast is a 5-band
tuple (mean, 80% and 95% prediction intervals — forecast-pkg default
``level = c(80, 95)``, SURVEY §1.4).
"""

from __future__ import annotations

import numpy as np

# z quantiles for the default 80/95 bands
Z80 = 1.2815515655446004
Z95 = 1.959963984540054

# numeric/degenerate-input failures a fit may legitimately raise on
# short/constant/pathological series — the ONLY exceptions robustness
# wrappers may swallow; anything else is a programming error that must
# propagate (fail loudly, never silently NaN/drop).
DEGENERATE_ERRORS = (ValueError, FloatingPointError, ZeroDivisionError,
                     OverflowError, np.linalg.LinAlgError)


# Nelder-Mead: relative convergence tolerance on the simplex's f-spread,
# and the initial simplex's relative step along each coordinate
_NM_TOL = 1e-8
_NM_STEP = 0.1


def nelder_mead(fn, x0: np.ndarray, *, max_iter: int = 500):
    """Minimal Nelder-Mead simplex minimizer (numpy-only).

    Good enough for the ≤6-parameter smoothing/ARMA objectives used here;
    runs inside executor Python workers, so no scipy dependency.
    """
    tol, step = _NM_TOL, _NM_STEP
    n = len(x0)
    # initial simplex
    simplex = [np.asarray(x0, dtype=float)]
    for i in range(n):
        p = np.array(x0, dtype=float)
        p[i] += step if p[i] == 0 else step * abs(p[i]) + 1e-4
        simplex.append(p)
    fvals = [fn(p) for p in simplex]
    for _ in range(max_iter):
        order = np.argsort(fvals)
        simplex = [simplex[i] for i in order]
        fvals = [fvals[i] for i in order]
        if abs(fvals[-1] - fvals[0]) < tol * (abs(fvals[0]) + tol):
            break
        centroid = np.mean(simplex[:-1], axis=0)
        worst = simplex[-1]
        # reflect
        xr = centroid + (centroid - worst)
        fr = fn(xr)
        if fr < fvals[0]:
            xe = centroid + 2.0 * (centroid - worst)   # expand
            fe = fn(xe)
            simplex[-1], fvals[-1] = (xe, fe) if fe < fr else (xr, fr)
        elif fr < fvals[-2]:
            simplex[-1], fvals[-1] = xr, fr
        else:
            xc = centroid + 0.5 * (worst - centroid)   # contract
            fc = fn(xc)
            if fc < fvals[-1]:
                simplex[-1], fvals[-1] = xc, fc
            else:                                      # shrink
                for i in range(1, n + 1):
                    simplex[i] = simplex[0] + 0.5 * (simplex[i] - simplex[0])
                    fvals[i] = fn(simplex[i])
    best = int(np.argmin(fvals))
    return simplex[best], fvals[best]


def aicc(loglik_proxy: float, n_params: int, n_obs: int) -> float:
    """AICc from a -2logLik proxy (n*log(SSE/n) for gaussian CSS fits)."""
    k = n_params + 1  # + error variance
    aic = loglik_proxy + 2 * k
    denom = n_obs - k - 1
    if denom <= 0:
        return np.inf
    return aic + 2 * k * (k + 1) / denom


def bands_from_sigma(mean: np.ndarray, sigma_h: np.ndarray) -> dict:
    """Gaussian 80/95 bands around a point forecast (per-step sd)."""
    return {
        "mean": mean,
        "lower1": mean - Z80 * sigma_h, "upper1": mean + Z80 * sigma_h,
        "lower2": mean - Z95 * sigma_h, "upper2": mean + Z95 * sigma_h,
    }


def bands_from_paths(mean: np.ndarray, paths: np.ndarray) -> dict:
    """Simulation-based bands (R uses these for NN and non-class-1 ETS):
    quantiles of simulated future paths (paths: [n_sims, horizon])."""
    return {
        "mean": mean,
        "lower1": np.quantile(paths, 0.10, axis=0),
        "upper1": np.quantile(paths, 0.90, axis=0),
        "lower2": np.quantile(paths, 0.025, axis=0),
        "upper2": np.quantile(paths, 0.975, axis=0),
    }


def seeded_rng(*key_parts) -> np.random.Generator:
    """Deterministic per-series RNG so grouped-UDF output is stable across
    runs and partitionings (Date.now-style nondeterminism would break the
    driver's hash checks)."""
    import hashlib
    digest = hashlib.md5("|".join(map(str, key_parts)).encode()).digest()
    seed = int.from_bytes(digest[:4], "little")
    return np.random.default_rng(seed)
