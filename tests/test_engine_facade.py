"""Engine facade integration — the API surface a reference user calls.

The switch-over story (a qrapids-forecast-R_script user moving to this
engine) runs through ``Engine``: this test drives every public entry
point end-to-end against real sf data, exactly as the Rserve client
drives the reference (SURVEY §3).
"""

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def engine(spark, sf_dir, tmp_path_factory):
    from qrapids_forecast_r_script_spark.engine import Engine
    from qrapids_forecast_r_script_spark.sources import (events_as_metrics,
                                                         load_table)
    metrics = events_as_metrics(load_table(spark, sf_dir, "events"))
    return Engine(spark, metrics,
                  artifact_dir=str(tmp_path_factory.mktemp("artifacts")))


def test_available_methods_exact_reference_contract(engine):
    """getAvailableMethods (R:12-14): the same 10 strings in the same
    order as stringMethods (R:6-7) — a switching client dispatches on
    these verbatim."""
    assert engine.available_methods() == [
        "ARIMA", "ARIMA_FORCE_SEASONALITY", "THETA", "ETS", "ETSDAMPED",
        "BAGGEDETS", "STL", "NN", "HYBRID", "PROPHET"]


def test_ping_and_search_element(engine):
    assert engine.ping() is True
    df = engine.search_element("purchase", "test.metrics.events")
    rows = df.collect()
    assert rows, "searchElement returned nothing for a known metric"
    # sorted ascending by evaluationDate, the reference's contract
    # (R:27-28); capped at 10000 (quirk 7)
    dates = [r["evaluationDate"] for r in rows]
    assert dates == sorted(dates)
    assert len(rows) <= 10_000


def test_forecast_single_series_output_tuple(engine):
    """forecast<Method>Wrapper shape (§1.4): steps 1..h, the 5-band
    tuple with lower2 <= lower1 <= mean <= upper1 <= upper2."""
    out = engine.forecast("purchase", "test.metrics.events", "ETS",
                          frequency=7, horizon=14).collect()
    assert [r["step"] for r in sorted(out, key=lambda r: r["step"])] \
        == list(range(1, 15))
    for r in out:
        assert r["lower2"] <= r["lower1"] <= r["mean"] \
            <= r["upper1"] <= r["upper2"]
        assert r["method"] == "ETS"


def test_forecast_cache_hit_path(engine):
    """Second identical call must serve from the forecast cache (the
    wrapper's core behavior, R:104-124) and return identical rows."""
    a = engine.forecast("purchase", "test.metrics.events", "SNAIVE",
                        frequency=7, horizon=7).collect()
    b = engine.forecast("purchase", "test.metrics.events", "SNAIVE",
                        frequency=7, horizon=7).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_forecast_all_covers_every_series(engine, spark, sf_dir):
    """Batch mode (the generalization the reference cannot do): one
    grouped job, one 14-step forecast per (name, index) series."""
    out = engine.forecast_all("SNAIVE", frequency=7, horizon=14)
    per_series = (out.groupBy("name", "index")
                  .agg(F.count(F.lit(1)).alias("n")).collect())
    n_series = engine.metrics.select("name", "index").distinct().count()
    assert len(per_series) == n_series
    assert all(r["n"] == 14 for r in per_series)


def test_engine_sql_front_door(engine):
    rows = engine.sql(
        "SELECT name, count(*) AS n FROM metrics GROUP BY 1").collect()
    assert {r["name"] for r in rows} >= {"purchase"}


@pytest.mark.parametrize("method", ["NAIVE", "MEAN"])
def test_null_value_gives_same_rows_with_and_without_cache(
        spark, tmp_path_factory, method):
    """qr_metrics.value is nullable and a null reaches the model as NaN.
    The cached path (artifact_dir) and the direct fit must return the
    same rows for it, NaN bands arriving as NULL on both."""
    import datetime
    import math

    from qrapids_forecast_r_script_spark import schemas
    from qrapids_forecast_r_script_spark.engine import Engine
    day = datetime.date(2024, 1, 1)
    rows = [("nully", "idx", day + datetime.timedelta(days=d),
             None if d == 29 else float(d % 7)) for d in range(30)]
    metrics = spark.createDataFrame(rows, schema=schemas.QR_METRICS)

    def collect(engine):
        out = engine.forecast("nully", "idx", method, frequency=7, horizon=5)
        return sorted(tuple("nan" if isinstance(v, float) and math.isnan(v)
                            else v for v in r) for r in out.collect())

    direct = collect(Engine(spark, metrics))
    cached_engine = Engine(spark, metrics,
                           artifact_dir=str(tmp_path_factory.mktemp("nully")))
    assert collect(cached_engine) == direct          # train
    assert collect(cached_engine) == direct          # cache hit
    assert [r[-5:] for r in direct] == [(None,) * 5] * 5


def test_request_path_warns_on_series_over_the_cap(spark, tmp_path_factory,
                                                   caplog):
    """A 10,001-point series reaches ``prepare_series`` whole through
    ``Engine.forecast``, so the reference's 10k cap (R:28) logs its
    warning instead of cutting silently, with and without an
    artifact_dir; the bands equal those of the first 10,000 points."""
    import datetime
    import logging

    from qrapids_forecast_r_script_spark import schemas
    from qrapids_forecast_r_script_spark.engine import Engine
    from qrapids_forecast_r_script_spark.forecast import api

    day = datetime.date(1990, 1, 1)
    rows = [("long", "idx", day + datetime.timedelta(days=d),
             float(d % 7) + d / 1000) for d in range(10_001)]
    full = spark.createDataFrame(rows, schema=schemas.QR_METRICS)
    first = spark.createDataFrame(rows[:10_000], schema=schemas.QR_METRICS)

    def forecast(metrics, cached):
        artifact_dir = (str(tmp_path_factory.mktemp("capped"))
                        if cached else None)
        caplog.clear()
        with caplog.at_level(logging.WARNING, logger=api.__name__):
            out = Engine(spark, metrics, artifact_dir=artifact_dir) \
                .forecast("long", "idx", "THETA", frequency=7, horizon=5)
            got = sorted(out.collect())
        return got, [r.getMessage() for r in caplog.records
                     if r.name == api.__name__]

    for cached in (False, True):
        got, warned = forecast(full, cached)
        assert len(warned) == 1, warned
        assert "10001 points" in warned[0] and "10k cap" in warned[0]
        want, quiet = forecast(first, cached)
        assert not quiet
        assert got == want
