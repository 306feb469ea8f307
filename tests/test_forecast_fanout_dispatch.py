"""forecast_batch's HYBRID/BAGGEDETS fan-out dispatch (r6 verdict item 4).

The HYBRID/BAGGEDETS straggler fan-outs must be the DEFAULT path at
scale, not a sibling API: ``forecast_batch`` runs one JVM
count-per-series aggregation and routes through ``hybrid_fanout_batch``
/ ``bagged_fanout_batch`` when the longest series has ≥
FANOUT_POINT_THRESHOLD points.  These tests move the threshold to reach
both routes and pin (a) the routing decision on both sides of it, (b)
exact result parity between the two routes, and (c) schema equality so
the dispatch is invisible to downstream consumers.
"""

import numpy as np
import pandas as pd
import pytest

# above any toy series length: every series takes the single-task path
_NEVER = 10 ** 9


def _toy_metrics(spark, n_points=40, names=("alpha", "beta")):
    rows = []
    for j, name in enumerate(names):
        for i in range(n_points):
            rows.append((name, "t",
                         (pd.Timestamp("2024-01-01")
                          + pd.Timedelta(days=i)).date(),
                         float(10 + 3 * np.sin(i / 3.0) + 0.1 * i + j)))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["name", "index", "evaluationDate",
                                    "value"]))


def _collect(df):
    key = ["name", "index", "step"]
    return df.toPandas().sort_values(key).reset_index(drop=True)


@pytest.mark.parametrize("method", ["HYBRID", "BAGGEDETS"])
def test_auto_routes_below_threshold_to_single_task(spark, method,
                                                    monkeypatch):
    """Short series (40 pts << 5000) at the shipped threshold: the plan
    contains the single applyInPandas stage, not the fan-out's
    mapInPandas chain, and the rows equal a run with the threshold out
    of reach, bit-for-bit (same code path)."""
    from qrapids_forecast_r_script_spark.forecast import api

    assert api.FANOUT_POINT_THRESHOLD == 5_000
    metrics = _toy_metrics(spark)
    auto = api.forecast_batch(spark, metrics, method, 7, 7)
    assert "FlatMapGroupsInPandas" in auto._jdf.queryExecution().toString()
    monkeypatch.setattr(api, "FANOUT_POINT_THRESHOLD", _NEVER)
    a = _collect(auto)
    n = _collect(api.forecast_batch(spark, metrics, method, 7, 7))
    assert a.shape == n.shape and len(a) == 2 * 7
    pd.testing.assert_frame_equal(a, n)


@pytest.mark.parametrize("method", ["HYBRID", "BAGGEDETS"])
def test_auto_routes_above_threshold_to_fanout(spark, method, monkeypatch):
    """Drop the threshold to 1 point: forecast_batch must take the
    fan-out path (plan shows mapInPandas, not the grouped single-task
    stage) and the results must equal the single-task path's bit for
    bit, NaN placement included, with an IDENTICAL schema (the r7
    int-step alignment)."""
    from qrapids_forecast_r_script_spark.forecast import api

    metrics = _toy_metrics(spark)
    monkeypatch.setattr(api, "FANOUT_POINT_THRESHOLD", _NEVER)
    never = api.forecast_batch(spark, metrics, method, 7, 7)
    monkeypatch.setattr(api, "FANOUT_POINT_THRESHOLD", 1)
    auto = api.forecast_batch(spark, metrics, method, 7, 7)
    # names + types must be identical; nullability may be TIGHTER on
    # the fan-out path (literal method stamp / sequence-derived step
    # are provably non-null) which is a safe subtype of the grouped-UDF
    # path's all-nullable Arrow schema
    assert [(f.name, f.dataType) for f in auto.schema.fields] == \
        [(f.name, f.dataType) for f in never.schema.fields], \
        (auto.schema, never.schema)
    plan = auto._jdf.queryExecution().toString()
    assert "FlatMapGroupsInPandas" not in plan  # not the single-task stage
    assert "FlatMapGroupsInPandas" in never._jdf.queryExecution().toString()
    a, n = _collect(auto), _collect(never)
    assert len(a) == len(n) == 2 * 7
    assert (a[["name", "index", "step"]].values
            == n[["name", "index", "step"]].values).all()
    assert (a["method"] == method).all()
    for c in ["lower1", "lower2", "mean", "upper1", "upper2"]:
        av, nv = a[c].to_numpy(), n[c].to_numpy()
        assert (np.isnan(av) == np.isnan(nv)).all(), c
        assert np.array_equal(av, nv, equal_nan=True), c


def test_non_fanout_methods_ignore_flag(spark, monkeypatch):
    """ETS has no fan-out: even at threshold 1 it takes the grouped
    path, and the rows equal the shipped threshold's exactly."""
    from qrapids_forecast_r_script_spark.forecast import api

    metrics = _toy_metrics(spark, names=("alpha",))
    shipped = _collect(api.forecast_batch(spark, metrics, "ETS", 7, 7))
    monkeypatch.setattr(api, "FANOUT_POINT_THRESHOLD", 1)
    low = api.forecast_batch(spark, metrics, "ETS", 7, 7)
    assert "FlatMapGroupsInPandas" in low._jdf.queryExecution().toString()
    pd.testing.assert_frame_equal(shipped, _collect(low))


def test_fanout_warns_when_series_exceed_the_cap(spark, monkeypatch,
                                                 caplog):
    """The fan-outs cap each series at MAX_SERIES_LENGTH inside the JVM;
    forecast_batch must say so on the driver (the single-task path's
    prepare_series warns per series for the same truncation).  A 40-
    point series against a 30-point cap warns once naming the cap; a
    cap above the longest series stays quiet."""
    import logging

    from qrapids_forecast_r_script_spark.forecast import api

    metrics = _toy_metrics(spark, names=("alpha",))
    monkeypatch.setattr(api, "FANOUT_POINT_THRESHOLD", 1)
    monkeypatch.setattr(api, "MAX_SERIES_LENGTH", 30)
    with caplog.at_level(logging.WARNING, logger=api.__name__):
        df = api.forecast_batch(spark, metrics, "HYBRID", 7, 7)
    assert "FlatMapGroupsInPandas" not in df._jdf.queryExecution().toString()
    warned = [r.getMessage() for r in caplog.records
              if r.name == api.__name__]
    assert len(warned) == 1, warned
    assert "40 points" in warned[0] and "30-point cap (R:28)" in warned[0]

    caplog.clear()
    monkeypatch.setattr(api, "MAX_SERIES_LENGTH", 40)
    with caplog.at_level(logging.WARNING, logger=api.__name__):
        api.forecast_batch(spark, metrics, "BAGGEDETS", 7, 7)
    assert not [r for r in caplog.records if r.name == api.__name__]
