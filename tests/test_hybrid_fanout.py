"""HYBRID fan-out equality vs the single-task path (r5 verdict item 4).

``hybrid_fanout.py`` explodes each series into (component × fold)
Spark tasks and hands each series' unit results to one per-series call
that runs the models' own combine rules; because every component fit is
internally seeded, the exploded fits are bit-identical to the ones
``fit_hybrid`` runs in sequence — so the weights and the combined bands
must match EXACTLY.  These tests pin that contract on the real
events-derived series.
"""

import numpy as np
import pytest

from conftest import SF_DIR


@pytest.fixture(scope="module")
def metrics(spark):
    from qrapids_forecast_r_script_spark.sources import (events_as_metrics,
                                                         load_table)
    return events_as_metrics(load_table(spark, SF_DIR, "events")).cache()


@pytest.mark.slow
def test_fanout_weights_equal_single_task(spark, metrics):
    """Per-(series, component) fan-out weights == fit_hybrid.weights.
    Exact equality is the point: same seeded fits, same fold errors,
    same 1/RMSE normalization — only the orchestration differs."""
    from qrapids_forecast_r_script_spark.forecast.api import prepare_series
    from qrapids_forecast_r_script_spark.forecast.hybrid_fanout import (
        _assemble_series, _unit_results, _weights_and_bands)
    from qrapids_forecast_r_script_spark.forecast.models.hybrid import (
        fit_hybrid)

    series = _assemble_series(metrics, 14).localCheckpoint()
    units = _unit_results(spark, series, 7, 14).toPandas()
    assert len(units)  # at least one unit result
    assembled = {(r["name"], r["index"]): np.asarray(r["y"], dtype=float)
                 for r in series.collect()}
    mp = metrics.toPandas()
    for (name, index), g in mp.groupby(["name", "index"]):
        y, _ = prepare_series(g)
        want = fit_hybrid(y, 7, cv_horizon=14).weights
        rows = units[(units["name"] == name) & (units["index"] == index)]
        got, _ = _weights_and_bands(assembled[(name, index)], 7, 14, rows)
        assert got == want, (name, index, got, want)


@pytest.mark.slow
def test_fanout_bands_equal_single_task_batch(spark, metrics):
    """hybrid_fanout_batch is a drop-in for forecast_batch(...,
    'HYBRID'): same rows, same method stamp, bit-identical bands."""
    from qrapids_forecast_r_script_spark.forecast.api import forecast_batch
    from qrapids_forecast_r_script_spark.forecast.hybrid_fanout import (
        hybrid_fanout_batch)

    key = ["name", "index", "step"]
    a = (forecast_batch(spark, metrics, "HYBRID", 7, 14)
         .toPandas().sort_values(key).reset_index(drop=True))
    b = (hybrid_fanout_batch(spark, metrics, 7, 14)
         .toPandas().sort_values(key).reset_index(drop=True))
    assert len(a) == len(b) > 0
    assert (a[key].values == b[key].values).all()
    assert (a["method"] == b["method"]).all()
    for c in ["mean", "lower1", "lower2", "upper1", "upper2"]:
        assert np.array_equal(a[c].to_numpy(), b[c].to_numpy(),
                              equal_nan=True), c


def test_fanout_unit_explosion_shape(spark, metrics):
    """Structural check of the JVM-side explosion: per series, one
    final-fit unit per component plus ≤4 CV folds per component, with
    fold windows/origins exactly matching _cv_rmse's slicing."""
    from qrapids_forecast_r_script_spark.forecast.hybrid_fanout import (
        _assemble_series, _series_units)
    from qrapids_forecast_r_script_spark.forecast.models.hybrid import (
        _COMPONENTS)

    from qrapids_forecast_r_script_spark.forecast.hybrid_fanout import (
        _ARIMA_GRID)

    units = _series_units(_assemble_series(metrics, 14), 7, 14).toPandas()
    for (name, index), g in units.groupby(["name", "index"]):
        n = len(g.iloc[0]["y"])
        h = 14
        window = n - 2 * h
        finals = g[g["origin"] < 0]
        assert set(finals["component"]) == set(_COMPONENTS)
        # the ARIMA final is exploded one level deeper: one unit per
        # candidate order of the superset grid; all other units carry
        # the whole-fit marker cand = -1
        a_finals = finals[finals["component"] == "a"]
        assert sorted(a_finals["cand"]) == list(range(len(_ARIMA_GRID)))
        assert (finals[finals["component"] != "a"]["cand"] == -1).all()
        cv = g[g["origin"] >= 0]
        assert (cv["cand"] == -1).all()
        if window < max(4, 7):
            assert len(cv) == 0
        else:
            expect = list(range(window, n - h + 1))[-4:]
            per_comp = cv.groupby("component")["origin"].apply(
                lambda s: sorted(s.tolist()))
            for comp, origins in per_comp.items():
                assert origins == expect, (name, index, comp)


def test_fanout_rowcount_parity_on_short_and_degenerate_series(spark):
    """r6 review finding: the fan-out must never silently DROP a series
    the sequential path emits (forecast_batch converts an all-degenerate
    series to `horizon` NaN-band rows).  Build a frame with a 1-point,
    a 2-point, and a constant series — whatever fits or fails, both
    paths must return the same (name, index, step) key set, with NaN
    exactly where the sequential path has NaN."""
    import pandas as pd

    from qrapids_forecast_r_script_spark.forecast.api import forecast_batch
    from qrapids_forecast_r_script_spark.forecast.hybrid_fanout import (
        hybrid_fanout_batch)

    rows = []
    rows.append(("one", "t", pd.Timestamp("2024-01-01").date(), 5.0))
    for i in range(2):
        rows.append(("two", "t", pd.Timestamp(f"2024-01-0{i+1}").date(),
                     float(i)))
    for i in range(40):
        rows.append(("const", "t",
                     (pd.Timestamp("2024-01-01")
                      + pd.Timedelta(days=i)).date(), 7.0))
    metrics = spark.createDataFrame(
        pd.DataFrame(rows, columns=["name", "index", "evaluationDate",
                                    "value"]))
    key = ["name", "index", "step"]
    a = (forecast_batch(spark, metrics, "HYBRID", 7, 14)
         .toPandas().sort_values(key).reset_index(drop=True))
    b = (hybrid_fanout_batch(spark, metrics, 7, 14)
         .toPandas().sort_values(key).reset_index(drop=True))
    assert len(a) == len(b) == 3 * 14
    assert (a[key].values == b[key].values).all()
    for c in ["mean", "lower1", "upper2"]:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        nan_match = np.isnan(av) == np.isnan(bv)
        assert nan_match.all(), (c, a[~nan_match], b[~nan_match])
        assert np.array_equal(av, bv, equal_nan=True), c
