"""Property tests of the wrapper/cache semantics (SURVEY §5.3, §2A.6).

These check the EXACT reference behaviors:
(a) cache validity = cached length >= horizon (R:71)
(b) cache primed at exactly 14 steps at train time (R:10, R:92-93)
(c) asymmetric save: unconditional on model-hit/cache-miss (R:114),
    only horizon>14 on fresh-train (R:119-121)
(d) cache hit returns a prefix slice, never refreshed data (R:110)
"""

import numpy as np
import pandas as pd
import pytest

from qrapids_forecast_r_script_spark.forecast.cache import (
    FORECASTS_CACHE_LENGTH, ForecastStore)
from qrapids_forecast_r_script_spark.functions.scrub import artifact_key, clean_key

RNG = np.random.default_rng(7)


def _series_pdf(n=60):
    t = np.arange(n)
    return pd.DataFrame({
        "name": "metric one!", "index": "proj.metrics",
        "evaluationDate": pd.date_range("2024-01-01", periods=n).date,
        "value": 50 + 0.2 * t + 5 * np.sin(2 * np.pi * t / 7)
                 + RNG.normal(0, 1, n),
    })


@pytest.fixture
def store(tmp_path):
    return ForecastStore(str(tmp_path))


def test_key_cleaning():
    # gsub("[^[:alnum:] ]", "", name) (R:43): strip non-alnum/space
    assert clean_key("metric one!") == "metric one"
    assert clean_key("a.b-c_d e") == "abcd e"
    assert artifact_key("m.1!", "ix", "ETS") == "m1_ix_ETS"


def test_train_primes_cache_at_14(store):
    store.forecast_with_cache("m", "i", "ETS", 7, 5, _series_pdf)
    bands = store.load_forecast("m", "i", "ETS")
    assert len(bands["mean"]) == FORECASTS_CACHE_LENGTH  # (b): primed at 14


def test_fresh_train_saves_requested_only_if_gt_14(store):
    store.forecast_with_cache("m", "i", "ETS", 7, 20, _series_pdf)
    assert len(store.load_forecast("m", "i", "ETS")["mean"]) == 20  # (c) h>14

    store2 = ForecastStore(store.models_dir + "_2")
    store2.forecast_with_cache("m", "i", "ETS", 7, 10, _series_pdf)
    assert len(store2.load_forecast("m", "i", "ETS")["mean"]) == 14  # (c) h<=14


def test_cache_hit_returns_prefix_slice(store):
    first = store.forecast_with_cache("m", "i", "ETS", 7, 14, _series_pdf)
    hit = store.forecast_with_cache("m", "i", "ETS", 7, 5, _series_pdf)
    assert len(hit) == 5
    pd.testing.assert_frame_equal(hit, first.head(5))  # (d): exact prefix


def test_cache_validity_is_length_rule(store):
    store.forecast_with_cache("m", "i", "ETS", 7, 14, _series_pdf)
    assert store.forecast_cache_valid("m", "i", "ETS", 14)      # (a) ==
    assert store.forecast_cache_valid("m", "i", "ETS", 3)       # (a) <
    assert not store.forecast_cache_valid("m", "i", "ETS", 15)  # (a) >


def test_cache_miss_with_model_refreshes_and_saves(store):
    calls = []

    def counting_series():
        calls.append(1)
        return _series_pdf()

    store.forecast_with_cache("m", "i", "ETS", 7, 14, counting_series)
    assert len(calls) == 1
    # horizon beyond cache → model-hit/cache-miss path: NO rescan (R:112)
    out = store.forecast_with_cache("m", "i", "ETS", 7, 16, counting_series)
    assert len(calls) == 1
    assert len(out) == 16
    # and the cache was overwritten unconditionally (R:114)
    assert len(store.load_forecast("m", "i", "ETS")["mean"]) == 16


def test_prophet_model_pickled_with_growth_and_cap_still_serves(store):
    """A PROPHET model pickled while the model still carried ``growth``
    and ``cap`` (always "linear" / None on the product path) must load
    through ``ForecastStore.load_model`` and forecast bit-identically to
    a fresh fit, so model stores written before those fields were
    dropped keep serving — directly and on the model-hit/cache-miss
    path, which must not rescan the source.  The old model holds
    exactly the fields such a pickle has, no more."""
    from qrapids_forecast_r_script_spark.forecast.api import prepare_series
    from qrapids_forecast_r_script_spark.forecast.dispatch import (
        fit_method, forecast_fitted)
    from qrapids_forecast_r_script_spark.forecast.models.prophet_like import (
        ProphetLikeModel)

    y, ds_days = prepare_series(_series_pdf())
    key = ("m", "i", "PROPHET")
    fresh = fit_method("PROPHET", y, 7, ds_days=ds_days, seed_key=key)
    old_fields = ("ds", "y", "coef", "changepoints", "deltas", "sigma", "k",
                  "b0", "t_scale", "y_scale", "season_spec")
    old = ProphetLikeModel.__new__(ProphetLikeModel)
    old.__dict__.update({f: fresh.__dict__[f] for f in old_fields},
                        growth="linear", cap=None)
    store.save_model(*key, old)

    loaded = store.load_model(*key)
    assert (loaded.growth, loaded.cap) == ("linear", None)
    want = forecast_fitted(fresh, 14, seed_key=key)
    got = forecast_fitted(loaded, 14, seed_key=key)
    for band in want:
        assert got[band].tobytes() == want[band].tobytes(), band

    def no_scan():
        raise AssertionError("model-hit path must not rescan the source")

    rows = store.forecast_with_cache(*key, 7, 14, no_scan)
    for band in want:
        assert rows[band].to_numpy().tobytes() == want[band].tobytes(), band
