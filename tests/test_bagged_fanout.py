"""BAGGEDETS fan-out equality vs the single-task path.

The moving-block bootstrap is seeded per (name, index, method), so each
Spark task regenerates the identical replicate list and fits exactly
one member — the reassembled ensemble (mean + min/max envelope,
duplicated band pairs, R:216-217) must equal forecast_batch's
single-task output bit for bit, with identical (name, index, step) key
sets and NaN placement.
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
def test_bagged_fanout_equals_single_task(spark, metrics):
    from qrapids_forecast_r_script_spark.forecast.api import forecast_batch
    from qrapids_forecast_r_script_spark.forecast.bagged_fanout import (
        bagged_fanout_batch)

    key = ["name", "index", "step"]
    a = (forecast_batch(spark, metrics, "BAGGEDETS", 7, 14)
         .toPandas().sort_values(key).reset_index(drop=True))
    b = (bagged_fanout_batch(spark, metrics, 7, 14)
         .toPandas().sort_values(key).reset_index(drop=True))
    assert len(a) == len(b) > 0
    assert (a[key].values == b[key].values).all()
    assert (b["method"] == "BAGGEDETS").all()
    for c in ["mean", "lower1", "lower2", "upper1", "upper2"]:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        assert (np.isnan(av) == np.isnan(bv)).all(), c
        assert np.array_equal(av, bv, equal_nan=True), c


def test_bagged_fanout_rowcount_on_short_series(spark):
    """Short/degenerate series must not vanish: same key set as the
    sequential path, NaN where it has NaN (the hybrid fan-out's r6
    review lesson, applied here from the start)."""
    import pandas as pd

    from qrapids_forecast_r_script_spark.forecast.api import forecast_batch
    from qrapids_forecast_r_script_spark.forecast.bagged_fanout import (
        bagged_fanout_batch)

    rows = [("one", "t", pd.Timestamp("2024-01-01").date(), 5.0)]
    for i in range(25):
        rows.append(("sine", "t",
                     (pd.Timestamp("2024-01-01")
                      + pd.Timedelta(days=i)).date(),
                     10.0 + 3.0 * np.sin(2 * np.pi * i / 7)))
    metrics = spark.createDataFrame(
        pd.DataFrame(rows, columns=["name", "index", "evaluationDate",
                                    "value"]))
    key = ["name", "index", "step"]
    a = (forecast_batch(spark, metrics, "BAGGEDETS", 7, 14)
         .toPandas().sort_values(key).reset_index(drop=True))
    b = (bagged_fanout_batch(spark, metrics, 7, 14)
         .toPandas().sort_values(key).reset_index(drop=True))
    assert len(a) == len(b) == 2 * 14
    assert (a[key].values == b[key].values).all()
    for c in ["mean", "lower1", "upper2"]:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        assert (np.isnan(av) == np.isnan(bv)).all(), (c, av, bv)
        assert np.array_equal(av, bv, equal_nan=True), (c, av, bv)


def test_run_members_bounded_cache_interleaved_series():
    """ADVICE r6: the per-partition replicate cache is bounded (LRU 2).
    Feed the worker function a WORST-CASE interleaved batch — rows
    alternate between 4 distinct series so nearly every row evicts —
    and assert the member forecasts still exactly equal a direct
    regenerate-and-fit per row.  Correctness must be cache-invariant;
    only regeneration count may differ."""
    import pandas as pd

    from qrapids_forecast_r_script_spark.forecast.bagged_fanout import (
        _run_members)
    from qrapids_forecast_r_script_spark.forecast.models.bagged import (
        NUM_REPLICATES, mbb_bootstrap)
    from qrapids_forecast_r_script_spark.forecast.models.common import (
        seeded_rng)
    from qrapids_forecast_r_script_spark.forecast.models.ets import fit_ets

    rng = np.random.default_rng(11)
    series = {f"s{j}": (20 + np.arange(40.0)
                        + 3 * np.sin(np.arange(40) / 3.0)
                        + rng.normal(0, 0.3, 40)) for j in range(4)}
    rows = [{"name": n, "index": "t", "rep": r,
             "y": series[n].tolist()}
            for r in range(3) for n in series]  # interleaved on purpose
    pdf = pd.DataFrame(rows)
    fn = _run_members(frequency=7, horizon=5)
    out = pd.concat(list(fn(iter([pdf]))), ignore_index=True)
    assert (out["kind"] == "member").all()
    assert len(out) == len(rows)
    for row in out.itertuples(index=False):
        reps = mbb_bootstrap(np.asarray(series[row.name], float), 7,
                             NUM_REPLICATES,
                             seeded_rng(row.name, "t", "BAGGEDETS", "mbb"))
        want = fit_ets(reps[row.rep], 7, damped=None).point_forecast(5)
        np.testing.assert_allclose(row.points, want, rtol=0, atol=0)
