"""HYBRID fold×component fan-out — the straggler-killing batch path.

``fit_hybrid`` (``models/hybrid.py``, reference semantics
``TimeSeriesFunctions_GPL_0.5.1.R:321-344``) runs 6 component fits plus
6 × ≤4 rolling-CV refits inside ONE task, so a single long series bounds
the whole stage: measured 36/156/359 s single-task at 1k/5k/10k points
(SCALE.md "HYBRID straggler budget").  This module explodes the same
work into (series × component × fold) Spark tasks and reassembles the
CV weights with JVM-side aggregation, cutting the critical path to the
slowest SINGLE fit (~6× folds ≈ 30× at the 4-fold cap) while producing
the same weights and the same combined bands (each component fit is
internally seeded, so WHERE it runs cannot change WHAT it returns —
``tests/test_hybrid_fanout.py`` asserts equality against the
single-task path).

Plan shape (100 TB story):
- series assembly is one ``sort_array(collect_list(struct(...)))``
  aggregation — the same single shuffle as ``forecast_batch``;
- unit explosion (components × CV origins + a final-fit marker) is pure
  JVM ``explode``/``sequence`` — no Python, no extra shuffle;
- one ``repartition`` on the unit key spreads fits across the cluster
  (the whole point: a 10k-point series becomes ~30 independent tasks);
- the Python boundary is exactly one ``mapInPandas`` that runs the
  numpy fits — everything before and after (RMSE, inverse-error
  weights, fallback shares, band combination) is built-in expressions.

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
from pyspark.sql.window import Window

from .. import schemas
from ..sources.registry import MAX_SERIES_LENGTH
from .models.arima import arima_candidate_grid
from .models.common import DEGENERATE_ERRORS
from .models.hybrid import (_COMPONENTS, _component_forecast,
                            _component_point_forecast)

_BANDS = ["mean", "lower1", "lower2", "upper1", "upper2"]

# The ARIMA final fit is itself an exhaustive ~96-order grid and was
# measured to BE the post-fan-out straggler (301 s of a 314 s wall at
# n=10k, every other unit ≤ 10 s — SCALE.md).  So the 'a' final unit is
# exploded one level deeper: one task per candidate order, indexed into
# the seasonal SUPERSET grid (a non-seasonal series simply skips the
# P/Q>0 indices — the surviving subsequence keeps the enumeration
# order, so the (crit, index) argmin reproduces fit_arima's first-best
# tie-break exactly).
_ARIMA_GRID = arima_candidate_grid(seasonal=True)

_UNIT_RESULT = T.StructType([
    T.StructField("name", T.StringType()),
    T.StructField("index", T.StringType()),
    T.StructField("component", T.StringType()),
    # 'cv' (errs set) | 'cv_fail' (poisons the component's RMSE →
    # fallback weight, matching _cv_rmse's any-fold-fails → None) |
    # 'final' (band arrays set) | 'final_fail' (post-fit forecast
    # degenerated → the series gets NaN rows in the batch combine, like
    # fit_and_forecast_pdf) | 'arima_cand' (one grid order's CSS fit:
    # cand/crit/cand_x/cand_sigma2 set) | 'arima_short' (nw < 5 — the
    # white-noise fallback marker); a final FIT that degenerates emits
    # nothing, dropping the component exactly like fit_hybrid does
    T.StructField("kind", T.StringType()),
    T.StructField("errs", T.ArrayType(T.DoubleType())),
    *[T.StructField(b, T.ArrayType(T.DoubleType())) for b in _BANDS],
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

        from .models.arima import arima_prep, fit_arima_candidate
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
                        "component": r.component, "errs": None,
                        "cand": None, "crit": None, "cand_x": None,
                        "cand_sigma2": None,
                        **{b: None for b in _BANDS}}
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
                        # of the whole grid walk → poison the component
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
                        # (fit_and_forecast_pdf) — emit the poison
                        # marker so the batch combine does the same
                        rows.append({**base, "kind": "final_fail"})
                        continue
                    rows.append({**base, "kind": "final",
                                 **{b: [float(v) for v in bands[b]]
                                    for b in _BANDS}})
                else:  # one rolling-CV fold
                    train = y[r.origin - r.window:r.origin]
                    actual = y[r.origin:r.origin + h]
                    try:
                        model = cv_fit_fn(train, m)
                        fc = _component_point_forecast(model, h, r.component)
                        errs = (actual - np.asarray(fc)[:len(actual)])
                        rows.append({**base, "kind": "cv",
                                     "errs": [float(e) for e in errs]})
                    except DEGENERATE_ERRORS:
                        rows.append({**base, "kind": "cv_fail"})
            yield pd.DataFrame(rows, columns=[f.name for f in _UNIT_RESULT])

    return fn


def _finalize_arima(frequency: int, horizon: int):
    """Second (tiny) Python stage: one row per series — rebuild the
    winning candidate into an ArimaModel (exact-ML refinement included,
    identical to the sequential path) and forecast it."""
    m = max(1, int(frequency))
    h = int(horizon)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .models.arima import (_arima_short_model, arima_prep,
                                   finalize_arima_winner)
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                y = np.asarray(r.y, float)
                base = {"name": r.name, "index": r.index,
                        "component": "a", "errs": None, "cand": None,
                        "crit": None, "cand_x": None,
                        "cand_sigma2": None,
                        **{b: None for b in _BANDS}}
                try:  # fit phase (inside fit_arima sequentially)
                    (y2, m2, _seasonal, d, D, w, nw,
                     include_const) = arima_prep(y, m)
                    if r.kind == "arima_short":
                        model = _arima_short_model(y2, m2, d, D, w, nw)
                    else:
                        p_, q_, P_, Q_ = _ARIMA_GRID[r.cand]
                        model = finalize_arima_winner(
                            y2, m2, d, D, w, nw, include_const,
                            p_, q_, P_, Q_, np.asarray(r.cand_x, float),
                            float(r.cand_sigma2), float(r.crit))
                except DEGENERATE_ERRORS:
                    continue  # drop 'a', like fit_hybrid
                try:  # forecast phase (sequentially NaNs the series)
                    bands = _component_forecast(model, h, "a")
                except DEGENERATE_ERRORS:
                    rows.append({**base, "kind": "final_fail"})
                    continue
                rows.append({**base, "kind": "final",
                             **{b: [float(v) for v in bands[b]]
                                for b in _BANDS}})
            yield pd.DataFrame(rows, columns=[f.name for f in _UNIT_RESULT])

    return fn


def _components_from_series(spark: SparkSession, series: DataFrame,
                            frequency: int, horizon: int,
                            ) -> tuple[DataFrame, DataFrame]:
    """Core of the fan-out over a PRE-ASSEMBLED (and ideally
    checkpointed) series frame — assembled once and reused for the unit
    explosion AND the winner's y re-join, instead of re-running the
    base-table aggregation twice (r6 review finding).

    Weight reassembly mirrors ``fit_hybrid`` exactly: RMSE over the
    concatenated fold errors (horizonAverage=TRUE), weight ∝ 1/RMSE,
    components with no usable CV take the mean of the known inverses
    (or an equal share when none is known), normalized per series.

    The ARIMA grid argmin is a JVM ``row_number`` over (crit, cand) —
    (crit, index)-ascending reproduces fit_arima's first-strictly-best
    walk — followed by a one-row-per-series finalize stage; a candidate
    unit that raises a degenerate error poisons the whole component
    ('arima_fail'), because the sequential fit would have thrown out of
    fit_arima and dropped 'a' entirely.

    Returns ``(components, poisoned)``: the per-(series, component)
    weight+band rows, and the (name, index) keys of series where a
    component FORECAST degenerated after a successful fit — the
    sequential path NaNs the whole series there
    (``fit_and_forecast_pdf`` catches around fit+forecast together), so
    ``hybrid_fanout_batch`` must too."""
    units = _series_units(series, frequency, cv_horizon=horizon)
    from ..session import shuffle_width
    width = shuffle_width(spark)
    results = (units
               # ROUND-ROBIN repartition (no columns): units are
               # independent fits with no key-locality to preserve, and
               # hash-distributing the few heavy units (high-order
               # ARIMA candidates) behind one key collides them onto
               # one task — measured 44 s → 36 s wall at n=10k from
               # even spreading alone.  User-specified, so exempt from
               # AQE coalescing (same rationale as forecast_batch).
               .repartition(width)
               .mapInPandas(_run_units(frequency, horizon),
                            schema=_UNIT_RESULT)
               # materialize ONCE: three consumers read this frame
               # (finals, the ARIMA argmin, the CV aggregation), and
               # without lineage truncation Spark re-runs every fit per
               # consumer — measured 124 s → 36 s wall at n=10k.  The
               # checkpointed rows are tiny (bands + error vectors);
               # same pattern as the dhash/recursive-CTE operators.
               .localCheckpoint())
    acand = results.where(F.col("kind").isin(
        "arima_cand", "arima_short", "arima_fail"))
    fail_series = (acand.where(F.col("kind") == "arima_fail")
                   .select("name", "index").distinct())
    wsel = (Window.partitionBy("name", "index")
            .orderBy(F.asc_nulls_last("crit"), F.asc("cand")))
    winner = (acand.where(F.col("kind") != "arima_fail")
              .withColumn("rn", F.row_number().over(wsel))
              .where(F.col("rn") == 1).drop("rn")
              .join(fail_series, ["name", "index"], "left_anti")
              .join(series.select("name", "index", "y"), ["name", "index"]))
    arima_finals = winner.mapInPandas(_finalize_arima(frequency, horizon),
                                      schema=_UNIT_RESULT)
    all_finals = (results.where(F.col("kind").isin("final", "final_fail"))
                  .unionByName(arima_finals))
    # a post-fit FORECAST degenerate ('final_fail') NaNs the whole
    # series in the sequential path — surface those keys to the caller
    poisoned = (all_finals.where(F.col("kind") == "final_fail")
                .select("name", "index").distinct())
    finals = (all_finals.where(F.col("kind") == "final")
              .drop("kind", "errs", "cand", "crit", "cand_x",
                    "cand_sigma2"))
    # array_sort before the fold-sum: collect_list order is
    # partition-dependent and fp addition is not associative — sorting
    # pins the summation order so reruns hash identically
    cv = (results.where(F.col("kind").isin("cv", "cv_fail"))
          .groupBy("name", "index", "component")
          .agg(F.sum(F.when(F.col("kind") == "cv_fail", 1)
                     .otherwise(0)).alias("fails"),
               F.array_sort(F.flatten(F.collect_list("errs")))
               .alias("all_errs"))
          .withColumn(
              "rmse",
              F.when((F.col("fails") > 0) | (F.size("all_errs") == 0),
                     F.lit(None).cast("double"))
              .otherwise(F.sqrt(
                  F.aggregate("all_errs", F.lit(0.0),
                              lambda acc, x: acc + x * x)
                  / F.size("all_errs"))))
          .select("name", "index", "component", "rmse"))
    w = Window.partitionBy("name", "index")
    comp = (finals
            .join(cv, ["name", "index", "component"], "left")
            # NaN guard (r6 review finding): Spark evaluates NaN > 0 as
            # TRUE, so a NaN fold error (a fit that produced NaN
            # forecasts without raising) would poison every weight in
            # the series; the sequential `r and r > 0` sends NaN to the
            # fallback — match it
            .withColumn("inv", F.when((F.col("rmse") > 0)
                                      & ~F.isnan("rmse"),
                                      1.0 / F.col("rmse")))
            .withColumn("inv", F.coalesce(
                "inv", F.avg("inv").over(w), F.lit(1.0)))
            .withColumn("weight", F.col("inv") / F.sum("inv").over(w))
            .drop("inv", "rmse"))
    return comp, poisoned


def hybrid_fanout_batch(spark: SparkSession, metrics: DataFrame,
                        frequency: int = 7, horizon: int = 14) -> DataFrame:
    """Drop-in for ``forecast_batch(..., "HYBRID")`` output: the same
    (name, index, method, step, 5 bands) rows, combined with
    PI.combination='mean' (R:340) as a JVM-side weighted sum.

    Degenerate-series parity (r6 review finding): the sequential path
    emits `horizon` NaN-band rows both when NO component fits and when
    any component's post-fit forecast degenerates
    (``fit_and_forecast_pdf`` catches around the whole fit+forecast).
    The fan-out therefore left-joins the combined bands back onto the
    full series-key × step frame and fills the missing/poisoned series
    with NaN rows instead of silently dropping them."""
    h = int(horizon)
    series = _assemble_series(metrics, h).localCheckpoint()
    comp, poisoned = _components_from_series(spark, series, frequency, h)
    z = (comp.join(poisoned, ["name", "index"], "left_anti")
         .select("name", "index", "component", "weight",
                 F.posexplode(F.arrays_zip(*_BANDS)).alias("pos", "v")))
    # NaN band values (a component that forecast NaN without raising,
    # e.g. NN on a 1-point series) arrive as NULL array elements — the
    # Arrow pandas→Spark conversion nullifies NaN — and Spark's sum
    # SKIPS nulls, which would silently drop that component from the
    # mix where the sequential weighted sum NaN-poisons the series.
    # Coalesce back to NaN so the arithmetic matches (r6 review).
    nan = F.lit(float("nan"))
    combined = (z.groupBy("name", "index", F.col("pos").alias("step"))
                .agg(*[F.sum(F.col("weight")
                             * F.coalesce(F.col(f"v.{b}"), nan)).alias(b)
                       for b in _BANDS]))
    full = (series.select("name", "index")
            .withColumn("step",
                        F.explode(F.sequence(F.lit(0), F.lit(h - 1)))))
    return (full.join(combined, ["name", "index", "step"], "left")
            # the batch path stamps the REQUESTED method string
            # (fit_and_forecast_pdf), so the drop-in does too
            .select("name", "index", F.lit("HYBRID").alias("method"),
                    (F.col("step") + 1).cast("int").alias("step"),
                    *[F.coalesce(b, nan).alias(b) for b in _BANDS])
            # .to() aligns type AND nullability with the grouped-UDF
            # path so the forecast_batch dispatch is schema-invisible
            .to(schemas.FORECAST))
