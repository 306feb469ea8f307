"""Model store + forecast cache with the reference's exact semantics.

Mirrors §2A.6 (``TimeSeriesFunctions_GPL_0.5.1.R:42-82`` and the 8
wrapper clones at R:104-124 etc.):

- artifact key  = ``gsub("[^[:alnum:] ]","",name) + '_' + index + '_' +
  method`` (R:43-46) — functions/scrub.py provides the exact regex.
- model store   = pickled fitted model per key (≙ saveRDS, R:47).
- forecast cache= one parquet/pickle blob of 5 vectors per key (R:54).
- cache validity: ``length(mean) >= horizon`` (R:71).
- prime-at-14   : training writes a FORECASTS_CACHE_LENGTH=14-step cache
  (R:10, R:92-93).
- asymmetric save: model-hit/cache-miss path ALWAYS overwrites the cache
  (R:112-114); fresh-train path saves at requested horizon only when
  ``horizon > 14`` (R:119-121).
- cache hit returns a horizon-prefix SLICE, never refreshed data (R:110).

Paths are plain filesystem here (the reference used local RDS files); on
a cluster the same layout maps onto any Hadoop-compatible FS.
"""

from __future__ import annotations

import logging
import os
import pickle

import numpy as np
import pandas as pd

from ..functions.scrub import artifact_key
from .api import forecast_rows
from .dispatch import fit_method, forecast_fitted

log = logging.getLogger(__name__)

FORECASTS_CACHE_LENGTH = 14  # forecastsCacheLength <- 14 (R:10)


class ForecastStore:
    def __init__(self, root: str):
        self.models_dir = os.path.join(root, "forecastModels")     # R:8
        self.cache_dir = os.path.join(root, "forecastsCache")      # R:9
        os.makedirs(self.models_dir, exist_ok=True)
        os.makedirs(self.cache_dir, exist_ok=True)

    def _key(self, name: str, index: str, method: str) -> str:
        return artifact_key(name, index, method)                   # R:43-46

    def model_path(self, name, index, method) -> str:
        return os.path.join(self.models_dir, self._key(name, index, method))

    def cache_path(self, name, index, method) -> str:
        return os.path.join(self.cache_dir, self._key(name, index, method))

    # --- S3/S4: save/load (R:42-55) ------------------------------------
    def save_model(self, name, index, method, model) -> None:
        with open(self.model_path(name, index, method), "wb") as f:
            pickle.dump(model, f)

    def load_model(self, name, index, method):
        with open(self.model_path(name, index, method), "rb") as f:
            return pickle.load(f)

    def save_forecast(self, name, index, method, bands: dict) -> None:
        with open(self.cache_path(name, index, method), "wb") as f:
            pickle.dump({k: np.asarray(v, float) for k, v in bands.items()}, f)

    def load_forecast(self, name, index, method) -> dict:
        with open(self.cache_path(name, index, method), "rb") as f:
            return pickle.load(f)

    # --- S5: checkModelExists (R:57-62) --------------------------------
    def model_exists(self, name, index, method) -> bool:
        return os.path.exists(self.model_path(name, index, method))

    # --- S6: checkForecastCache (R:64-82) ------------------------------
    def _load_valid_cache(self, name, index, method, horizon: int):
        """The cached bands when valid for ``horizon``, else None — one
        read/unpickle serves both the validity check and the hit path."""
        log.info("CHECKING CACHE...")                              # R:65
        path = self.cache_path(name, index, method)
        if not os.path.exists(path):
            return None
        bands = self.load_forecast(name, index, method)
        return bands if len(bands["mean"]) >= horizon else None    # R:71

    def forecast_cache_valid(self, name, index, method, horizon: int) -> bool:
        return self._load_valid_cache(name, index, method, horizon) is not None

    # --- the shared wrapper skeleton (§2A.6) ---------------------------
    def forecast_with_cache(self, name: str, index: str, method: str,
                            frequency: int, horizon: int,
                            compute_series) -> pd.DataFrame:
        """``compute_series`` is called ONLY on the no-model path — the
        cache-hit and model-hit paths never touch the source (R:104-124)."""
        seed_key = (name, index, method)
        if self.model_exists(name, index, method):
            cached = self._load_valid_cache(name, index, method, horizon)
            if cached is not None:
                # HIT: slice to horizon, never refresh (R:109-110)
                sliced = {k: v[:horizon] for k, v in cached.items()}
                return forecast_rows(name, index, method, sliced)
            # model-hit / cache-miss: forecast + unconditional save (R:112-114)
            model = self.load_model(name, index, method)
            bands = forecast_fitted(model, horizon, seed_key=seed_key)
            self.save_forecast(name, index, method, bands)
            return forecast_rows(name, index, method, bands)
        # no model: scan, fit, save model, prime cache at 14 (R:117, R:84-95)
        from .api import prepare_series
        pdf = compute_series()
        y, ds_days = prepare_series(pdf)
        model = fit_method(method, y, frequency, ds_days=ds_days,
                           horizon=horizon, seed_key=seed_key)
        self.save_model(name, index, method, model)
        prime = forecast_fitted(model, FORECASTS_CACHE_LENGTH,
                                seed_key=seed_key)
        self.save_forecast(name, index, method, prime)              # R:92-93
        bands = forecast_fitted(model, horizon, seed_key=seed_key)
        if horizon > FORECASTS_CACHE_LENGTH:                        # R:119-121
            self.save_forecast(name, index, method, bands)
        return forecast_rows(name, index, method, bands)
