"""HYBRID component × fold fan-out — the batch path for long series.

``fit_hybrid`` (``models/hybrid.py``, reference semantics
``TimeSeriesFunctions_GPL_0.5.1.R:321-344``) runs 6 component fits plus
6 × ≤4 rolling-CV refits inside ONE task, so a single long series bounds
the whole stage: measured 36/156/359 s single-task at 1k/5k/10k points
(SCALE.md "HYBRID straggler budget").  This module only schedules that
work: it explodes each series into (component × fold) fit units — the
ARIMA final fit into one unit per grid order — so the critical path is
the slowest SINGLE fit.  It combines nothing itself.  Each series and
its unit results meet in one per-series Python call that runs the
models' own rules: ``best_arima_candidate`` + ``finalize_arima_winner``
for the ARIMA grid, ``fold_rmse``, ``hybrid_weights`` and
``combine_bands`` for the ensemble, and ``api.forecast_or_nan`` for a
degenerate series.  Every fit is internally seeded, so where it runs
cannot change what it returns, and the rows equal
``forecast_batch(..., "HYBRID")`` bit for bit
(``tests/test_hybrid_fanout.py``).

Plan shape (100 TB story):
- series assembly is one ``sort_array(collect_list(struct(...)))``
  aggregation — the same single shuffle as ``forecast_batch`` — cut
  with ``localCheckpoint`` because two stages read it;
- unit explosion (components × CV origins + a final-fit marker, ARIMA
  grid orders) is pure JVM ``explode``/``sequence`` — no Python, no
  extra shuffle;
- one round-robin ``repartition`` spreads the fits across the cluster
  (the whole point: a 10k-point series becomes 125 independent fit
  units);
- one ``mapInPandas`` runs the numpy fits;
- one ``cogroup`` of the series with its unit results runs the
  per-series combine: every assembled series is one group, so a series
  whose fits all failed still gets its NaN rows.

The reference's own 10k cap (R:28) bounds every unit's input; the
fan-out exists for the n ≳ 5k tail where the single-task path is the
stage straggler.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from .. import schemas
from ..sources.registry import MAX_SERIES_LENGTH
from .api import _FORECAST_KEYS, forecast_or_nan
from .models.arima import (_arima_short_model, arima_candidate_grid,
                           arima_prep, best_arima_candidate,
                           finalize_arima_winner, fit_arima_candidate)
from .models.common import DEGENERATE_ERRORS
from .models.hybrid import (_COMPONENTS, _component_forecast,
                            _component_point_forecast, combine_bands,
                            fold_rmse, hybrid_weights)

# The ARIMA final fit is itself an exhaustive ~96-order grid and was
# measured to BE the post-fan-out straggler (301 s of a 314 s wall at
# n=10k, every other unit ≤ 10 s — SCALE.md).  So the 'a' final unit is
# exploded one level deeper: one task per candidate order, indexed into
# the seasonal SUPERSET grid (a non-seasonal series simply skips the
# P/Q>0 indices — the surviving subsequence keeps the enumeration
# order, so walking the candidates by index reproduces fit_arima's
# first-best tie-break exactly).
_ARIMA_GRID = arima_candidate_grid(seasonal=True)

_UNIT_RESULT = T.StructType([
    T.StructField("name", T.StringType()),
    T.StructField("index", T.StringType()),
    T.StructField("component", T.StringType()),
    T.StructField("origin", T.LongType()),
    # 'cv' (errs set) | 'cv_fail' (the component gets no RMSE → the
    # fallback weight, matching _cv_rmse's any-fold-fails → None) |
    # 'final' (band arrays set) | 'final_fail' (post-fit forecast
    # degenerated → the series gets NaN rows, like
    # fit_and_forecast_pdf) | 'arima_cand' (one grid order's CSS fit:
    # cand/crit/cand_x/cand_sigma2 set) | 'arima_short' (nw < 5 — the
    # white-noise fallback marker) | 'arima_fail' (a candidate raised,
    # which would have thrown out of fit_arima → 'a' is dropped); a
    # final FIT that degenerates emits nothing, dropping the component
    # exactly like fit_hybrid does
    T.StructField("kind", T.StringType()),
    T.StructField("errs", T.ArrayType(T.DoubleType())),
    *[T.StructField(b, T.ArrayType(T.DoubleType()))
      for b in _FORECAST_KEYS],
    T.StructField("cand", T.LongType()),
    T.StructField("crit", T.DoubleType()),
    T.StructField("cand_x", T.ArrayType(T.DoubleType())),
    T.StructField("cand_sigma2", T.DoubleType()),
])


def _assemble_series(metrics: DataFrame, cv_horizon: int) -> DataFrame:
    """One row per (name, index): the stable-sorted, 10k-capped series
    array plus n and the CV window — all JVM-side."""
    h = int(cv_horizon)
    return (metrics
            .groupBy("name", "index")
            .agg(F.slice(  # stable (date, value) sort + the 10k cap
                 F.sort_array(F.collect_list(
                     F.struct("evaluationDate", "value"))),
                 1, MAX_SERIES_LENGTH).alias("pts"))
            .withColumn("y", F.col("pts.value"))
            .drop("pts")
            .withColumn("n", F.size("y"))
            .withColumn("window", F.col("n") - 2 * F.lit(h)))


def _series_units(series: DataFrame, frequency: int,
                  cv_horizon: int) -> DataFrame:
    """(name, index, component, origin, window, cand, y) — one row per
    fit unit of the assembled ``series`` frame (``_assemble_series``),
    exploded entirely JVM-side.

    origin = -1 marks the final full-series fit; CV origins mirror
    ``_cv_rmse``: window = n − 2·cvHorizon (R:326), one-step slide,
    LAST 4 folds (the documented fold cap), skipped entirely when
    window < max(4, m) — the component then has no CV rows and lands on
    the fallback weight, same as the single-task path."""
    m = max(1, int(frequency))
    h = int(cv_horizon)
    letters = F.array(*[F.lit(c) for c in _COMPONENTS])
    cv_ok = (F.col("window") >= F.greatest(F.lit(4), F.lit(m)))
    origins = F.when(
        cv_ok, F.sequence(F.greatest(F.col("window"),
                                     F.col("n") - F.lit(h) - 3),
                          F.col("n") - F.lit(h)))
    # the 'a' (ARIMA) final unit fans out once more: one unit per
    # candidate order of the superset grid; every other unit gets the
    # whole-fit marker cand = -1
    arima_final = (F.col("component") == "a") & (F.col("origin") == -1)
    return (series
            .withColumn("origin",
                        F.explode(F.concat(F.array(F.lit(-1)),
                                           F.coalesce(origins, F.array()))))
            .withColumn("component", F.explode(letters))
            .withColumn("cand",
                        F.explode(F.when(arima_final,
                                         F.sequence(F.lit(0),
                                                    F.lit(len(_ARIMA_GRID)
                                                          - 1)))
                                  .otherwise(F.array(F.lit(-1)))))
            .select("name", "index", "component", "origin", "window",
                    "cand", "y"))


def _run_units(frequency: int, horizon: int):
    """The single Python boundary: each input row is one independent fit
    (bounded by the 10k cap), so executor memory is per-unit constant."""
    m = max(1, int(frequency))
    h = int(horizon)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from collections import OrderedDict

        # Bounded LRU (ADVICE r6): the cache persists across ALL batches
        # of the partition (not per-batch), and an arima_prep tuple
        # holds full y/w arrays (~160 KB at 10k points) — unbounded it
        # grows with every distinct series the partition touches.  Two
        # entries cover the seam between adjacent series under the
        # fan-out's partitioning; a miss re-runs one O(n) prep.
        prep_cache: OrderedDict[tuple, tuple] = OrderedDict()

        def prep_for(key, y):
            # ~96 candidate units per series share one O(n) prep; cache
            # so the differencing tests run once per series run, not
            # per unit
            if key not in prep_cache:
                prep_cache[key] = arima_prep(y, m)
                while len(prep_cache) > 2:
                    prep_cache.popitem(last=False)
            prep_cache.move_to_end(key)
            return prep_cache[key]

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                _, fit_fn, cv_fit_fn = _COMPONENTS[r.component]
                y = np.asarray(r.y, float)
                base = {"name": r.name, "index": r.index,
                        "component": r.component, "origin": r.origin,
                        "errs": None, "cand": None, "crit": None,
                        "cand_x": None, "cand_sigma2": None,
                        **{b: None for b in _FORECAST_KEYS}}
                if r.origin < 0 and r.cand >= 0:  # one ARIMA grid order
                    try:
                        (_, _, seasonal, _, _, w, nw,
                         include_const) = prep_for((r.name, r.index), y)
                        p_, q_, P_, Q_ = _ARIMA_GRID[r.cand]
                        if nw < 5:
                            if r.cand == 0:  # exactly one short marker
                                rows.append({**base, "kind": "arima_short",
                                             "cand": -1})
                            continue
                        if not seasonal and (P_ or Q_):
                            continue  # not in this series' grid
                        fit = fit_arima_candidate(w, nw, m, include_const,
                                                  p_, q_, P_, Q_)
                    except DEGENERATE_ERRORS:
                        # the sequential fit_arima would have thrown out
                        # of the whole grid walk → drop the component
                        rows.append({**base, "kind": "arima_fail"})
                        continue
                    if fit is None:
                        continue  # order too long for the series
                    crit, xfit, sigma2 = fit
                    rows.append({**base, "kind": "arima_cand",
                                 "cand": int(r.cand), "crit": float(crit),
                                 "cand_x": [float(v) for v in xfit],
                                 "cand_sigma2": float(sigma2)})
                elif r.origin < 0:  # final full-series fit
                    try:
                        model = fit_fn(y, m)
                    except DEGENERATE_ERRORS:
                        continue  # component dropped, like fit_hybrid
                    try:
                        bands = _component_forecast(model, h, r.component)
                    except DEGENERATE_ERRORS:
                        # post-fit forecast degenerate: the sequential
                        # path NaNs the whole series
                        # (fit_and_forecast_pdf) — emit the marker so
                        # the per-series combine does the same
                        rows.append({**base, "kind": "final_fail"})
                        continue
                    rows.append({**base, "kind": "final",
                                 **{b: [float(v) for v in bands[b]]
                                    for b in _FORECAST_KEYS}})
                else:  # one rolling-CV fold, as _cv_rmse runs it
                    train = y[r.origin - r.window:r.origin]
                    actual = y[r.origin:r.origin + h]
                    try:
                        model = cv_fit_fn(train, m)
                        fc = _component_point_forecast(model, h, r.component)
                        errs = actual - fc
                        rows.append({**base, "kind": "cv",
                                     "errs": [float(e) for e in errs]})
                    except DEGENERATE_ERRORS:
                        rows.append({**base, "kind": "cv_fail"})
            yield pd.DataFrame(rows, columns=[f.name for f in _UNIT_RESULT])

    return fn


def _unit_results(spark: SparkSession, series: DataFrame,
                  frequency: int, horizon: int) -> DataFrame:
    """Every fit unit of the assembled ``series`` frame, run: the
    explosion, the spread, and the one ``mapInPandas`` fit stage."""
    from ..session import shuffle_width
    return (_series_units(series, frequency, cv_horizon=horizon)
            # ROUND-ROBIN repartition (no columns): units are
            # independent fits with no key-locality to preserve, and
            # hash-distributing the few heavy units (high-order ARIMA
            # candidates) behind one key collides them onto one task —
            # measured 44 s → 36 s wall at n=10k from even spreading
            # alone.  User-specified, so exempt from AQE coalescing
            # (same rationale as forecast_batch).
            .repartition(shuffle_width(spark))
            .mapInPandas(_run_units(frequency, horizon),
                         schema=_UNIT_RESULT))


def _arima_bands(y, m, h, units: pd.DataFrame) -> dict | None:
    """fit_arima over the fanned-out grid, then the component forecast;
    None where fit_arima would have raised (fit_hybrid drops 'a')."""
    kinds = set(units["kind"])
    if "arima_fail" in kinds:
        return None
    try:
        y, m, _, d, D, w, nw, include_const = arima_prep(y, m)
        if "arima_short" in kinds:
            model = _arima_short_model(y, m, d, D, w, nw)
        else:
            cands = units[units["kind"] == "arima_cand"].sort_values("cand")
            (p, q, P, Q), (crit, x, sigma2) = best_arima_candidate(
                (_ARIMA_GRID[int(r.cand)],
                 (r.crit, np.asarray(r.cand_x, dtype=float), r.cand_sigma2))
                for r in cands.itertuples(index=False))
            model = finalize_arima_winner(y, m, d, D, w, nw, include_const,
                                          p, q, P, Q, x, sigma2, crit)
    except DEGENERATE_ERRORS:
        return None
    return _component_forecast(model, h, "a")


def _shipped_bands(units: pd.DataFrame) -> dict | None:
    """A component's final bands as its fit task forecast them; None
    when its final fit failed."""
    final = units[units["kind"].isin(("final", "final_fail"))]
    if final.empty:
        return None
    if final["kind"].iloc[0] == "final_fail":
        raise ValueError("a hybrid component forecast degenerated")
    return {b: np.asarray(final[b].iloc[0], dtype=float)
            for b in _FORECAST_KEYS}


def _cv_rmse_of(units: pd.DataFrame) -> float | None:
    """_cv_rmse from the component's fold rows: None when a fold
    failed, else the RMSE over the errors in origin order."""
    folds = units[units["kind"].isin(("cv", "cv_fail"))].sort_values("origin")
    if (folds["kind"] == "cv_fail").any():
        return None
    return fold_rmse([e for errs in folds["errs"]
                      for e in np.asarray(errs, dtype=float)])


def _weights_and_bands(y, m, h, units: pd.DataFrame) -> tuple[dict, dict]:
    """fit_hybrid over one series' unit results: the CV weights and the
    bands of every fitted component.  Raises where the single-task path
    raises: no component fitted, or a component forecast degenerated."""
    bands, rmses = {}, {}
    for letter in _COMPONENTS:
        u = units[units["component"] == letter]
        b = _arima_bands(y, m, h, u) if letter == "a" else _shipped_bands(u)
        if b is None:
            continue
        bands[letter] = b
        rmses[letter] = _cv_rmse_of(u)
    if not bands:
        raise ValueError("no hybrid component could be fitted")
    return hybrid_weights(list(bands), rmses), bands


def _combine(frequency: int, horizon: int):
    """The per-series stage: one assembled series and all its unit
    results in, its forecast rows out."""
    m = max(1, int(frequency))
    h = int(horizon)

    def fn(key, series: pd.DataFrame, units: pd.DataFrame) -> pd.DataFrame:
        y = np.asarray(series["y"].iloc[0], dtype=float)

        def bands():
            weights, by_letter = _weights_and_bands(y, m, h, units)
            return combine_bands(weights, by_letter, h)

        return forecast_or_nan(str(key[0]), str(key[1]), "HYBRID", h, bands)

    return fn


def hybrid_fanout_batch(spark: SparkSession, metrics: DataFrame,
                        frequency: int = 7, horizon: int = 14) -> DataFrame:
    """Drop-in for ``forecast_batch(..., "HYBRID")`` output: the same
    (name, index, method, step, 5 bands) rows."""
    h = int(horizon)
    series = _assemble_series(metrics, h).localCheckpoint()
    key = ["name", "index"]
    return (series.select(*key, "y").groupBy(*key)
            .cogroup(_unit_results(spark, series, frequency, h)
                     .groupBy(*key))
            .applyInPandas(_combine(frequency, h), schema=schemas.FORECAST))
