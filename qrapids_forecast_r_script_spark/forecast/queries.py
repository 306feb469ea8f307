"""Driver-facing forecast queries.

Two tiers:
- the four closed-form forecasters (MEAN/NAIVE/SNAIVE/DRIFT) have FULL
  DuckDB oracles — point forecasts and 80/95 bands are exact SQL, so the
  driver hash-checks the whole forecast pipeline (scan → series build →
  grouped UDF → 5-band rows) end-to-end;
- the reference's 10 methods (R:6-7) are iterative model fits, not
  SQL-expressible → rows-only entries (the driver records the weaker
  check; tests/test_forecast_golden.py adds tolerance-based goldens).

All run on the events-derived metric series (5 series × 30 daily points,
frequency 7, horizon 14).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..sources import events_as_metrics, load_table
from .api import _FORECAST_KEYS, forecast_batch

Z80 = "1.2815515655446004"
Z95 = "1.959963984540054"

_ROUND = 6
_EVENTS_HORIZON = 14   # two weeks of the daily events-derived series


def _metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_as_metrics(load_table(spark, sf_dir, "events"))


def _rounded_bands(out: DataFrame, step: str | Column) -> DataFrame:
    """The forecast output columns of ``out`` with every band rounded to
    ``_ROUND`` dp; ``step`` is the caller's step column."""
    return out.select("name", "index", "method", step,
                      *[F.round(c, _ROUND).alias(c) for c in _FORECAST_KEYS])


def _batch(spark, sf_dir, method):
    out = forecast_batch(spark, _metrics(spark, sf_dir), method,
                         frequency=7, horizon=_EVENTS_HORIZON)
    return _rounded_bands(
        out, F.col("step").cast("long").alias("step"))


def _make(method):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _batch(spark, sf_dir, method)
    q.__name__ = f"forecast_{method.lower()}_events"
    return q


def _user_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Many-series frame: one metric series per (event_type, user bucket)
    — the batch-mode scale story (50 independent series at sf0.1; at
    100 TB this is millions of series fanned out one-per-task)."""
    ev = load_table(spark, sf_dir, "events")
    return (ev
            .groupBy(F.concat_ws("_u", "event_type",
                                 (F.col("user_id") % 10).cast("string"))
                     .alias("name"),
                     F.to_date("ts").alias("evaluationDate"))
            .agg(F.round(F.sum("value"), 6).alias("value"))
            .select("name", F.lit("test.metrics.users").alias("index"),
                    "evaluationDate", "value"))


def _make_user_series(method):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql.window import Window
        metrics = _user_metrics(spark, sf_dir)
        # keep series with >= 2 full seasonal cycles: sparse buckets (tiny
        # SFs) hit the short-series fallback, which the SQL oracle's
        # closed form deliberately does not model
        n_obs = F.count(F.lit(1)).over(Window.partitionBy("name", "index"))
        metrics = (metrics.withColumn("n_obs", n_obs)
                   .where(F.col("n_obs") >= 14).drop("n_obs"))
        out = forecast_batch(spark, metrics, method,
                             frequency=7, horizon=_EVENTS_HORIZON)
        return _rounded_bands(
            out, F.col("step").cast("long").alias("step"))
    q.__name__ = f"forecast_{method.lower()}_user_series"
    return q


QUERIES = {
    "forecast_mean_events": _make("MEAN"),
    "forecast_naive_events": _make("NAIVE"),
    "forecast_snaive_events": _make("SNAIVE"),
    "forecast_drift_events": _make("DRIFT"),
    # many-series batch mode (SURVEY §2A.4): 50 series in one grouped job
    "forecast_snaive_user_series": _make_user_series("SNAIVE"),
    "forecast_ets_user_series": _make_user_series("ETS"),
    # the reference's method registry (rows-only driver check)
    "forecast_ets_events": _make("ETS"),
    "forecast_etsdamped_events": _make("ETSDAMPED"),
    "forecast_theta_events": _make("THETA"),
    "forecast_stl_events": _make("STL"),
    "forecast_arima_events": _make("ARIMA"),
    "forecast_arima_force_seasonality_events": _make("ARIMA_FORCE_SEASONALITY"),
    "forecast_nn_events": _make("NN"),
    "forecast_baggedets_events": _make("BAGGEDETS"),
    "forecast_prophet_events": _make("PROPHET"),
    "forecast_hybrid_events": _make("HYBRID"),
}


def forecast_hybrid_fanout_events(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """HYBRID via the (series × component × fold) fan-out
    (``hybrid_fanout.py``) — the same rows, bit for bit, as
    ``forecast_hybrid_events``'s single-task path (asserted by
    tests/test_hybrid_fanout.py), but the critical path is one fit
    instead of every fit of the series: the n ≳ 5k straggler fix
    measured in SCALE.md.
    Rows-only (the model fits are iterative, not SQL-expressible), like
    the other 10 reference methods."""
    from .hybrid_fanout import hybrid_fanout_batch
    out = hybrid_fanout_batch(spark, _metrics(spark, sf_dir),
                              frequency=7, horizon=_EVENTS_HORIZON)
    return _rounded_bands(out, "step")


QUERIES["forecast_hybrid_fanout_events"] = forecast_hybrid_fanout_events


def forecast_baggedets_fanout_events(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """BAGGEDETS via the per-replicate fan-out (``bagged_fanout.py``) —
    the ensemble is exactly the one ``forecast_baggedets_events``'s
    single-task path fits (the bootstrap is re-seeded per series, so
    member r is bit-identical wherever it runs; asserted by
    tests/test_bagged_fanout.py), but the critical path is ONE ETS fit
    per task instead of 100.  Rows-only like the other model fits."""
    from .bagged_fanout import bagged_fanout_batch
    out = bagged_fanout_batch(spark, _metrics(spark, sf_dir),
                              frequency=7, horizon=_EVENTS_HORIZON)
    return _rounded_bands(out, "step")


QUERIES["forecast_baggedets_fanout_events"] = forecast_baggedets_fanout_events

# ---------------------------------------------------------------------------
# Oracles.  Shared scaffolding: the daily series per event_type with a
# positional index, then per-method closed-form forecast math over a
# 14-step horizon (steps via generate_series).
# ---------------------------------------------------------------------------

_METRICS_EVENTS = """
    SELECT event_type AS name,
           'test.metrics.events' AS index,
           CAST(ts AS DATE) AS evaluationDate,
           round(sum(value), 6) AS value
    FROM events GROUP BY 1, 2, 3
"""

_METRICS_USERS = """
    SELECT event_type || '_u' || CAST(user_id % 10 AS VARCHAR) AS name,
           'test.metrics.users' AS index,
           CAST(ts AS DATE) AS evaluationDate,
           round(sum(value), 6) AS value
    FROM events GROUP BY 1, 2, 3
"""

_SERIES_CTE = """
WITH metrics AS ({metrics_sql}), series AS (
    SELECT name, index,
           row_number() OVER (PARTITION BY name, index
                              ORDER BY evaluationDate ASC, value ASC) - 1 AS t,
           CAST(value AS DOUBLE) AS y
    FROM metrics
), stats AS (
    SELECT name, index, count(*) AS n, avg(y) AS ybar,
           stddev_samp(y) AS sd_y,
           max(CASE WHEN rev = 0 THEN y END) AS y_last,
           max(CASE WHEN rev = CAST(cnt - 1 AS BIGINT) THEN y END) AS y_first
    FROM (SELECT *, count(*) OVER (PARTITION BY name, index) AS cnt,
                 CAST(cnt - t - 1 AS BIGINT) AS rev
          FROM series)
    GROUP BY name, index
), diffs AS (
    SELECT name, index, stddev_samp(d) AS sd_diff
    FROM (SELECT name, index, y - lag(y) OVER (PARTITION BY name, index ORDER BY t) AS d
          FROM series)
    WHERE d IS NOT NULL
    GROUP BY name, index
), sdiffs AS (
    SELECT name, index, stddev_samp(d) AS sd_sdiff
    FROM (SELECT name, index, y - lag(y, 7) OVER (PARTITION BY name, index ORDER BY t) AS d
          FROM series)
    WHERE d IS NOT NULL
    GROUP BY name, index
), steps AS (
    SELECT CAST(h AS BIGINT) AS step FROM generate_series(1, 14) AS g(h)
)
"""


_SNAIVE_SELECT = f"""
        SELECT s.name, s.index, 'SNAIVE' AS method, st.step,
               round(sv.y - {Z80} * sd_sdiff * sqrt(floor((st.step - 1) / 7) + 1), {_ROUND}) AS lower1,
               round(sv.y - {Z95} * sd_sdiff * sqrt(floor((st.step - 1) / 7) + 1), {_ROUND}) AS lower2,
               round(sv.y, {_ROUND}) AS mean,
               round(sv.y + {Z80} * sd_sdiff * sqrt(floor((st.step - 1) / 7) + 1), {_ROUND}) AS upper1,
               round(sv.y + {Z95} * sd_sdiff * sqrt(floor((st.step - 1) / 7) + 1), {_ROUND}) AS upper2
        FROM stats s
        JOIN sdiffs sd2 ON s.name = sd2.name AND s.index = sd2.index
        CROSS JOIN steps st
        JOIN series sv
          ON sv.name = s.name AND sv.index = s.index
         AND sv.t = s.n - 7 + ((st.step - 1) % 7)
"""


def _oracle(select_body: str, metrics_sql: str = _METRICS_EVENTS) -> str:
    return _SERIES_CTE.format(metrics_sql=metrics_sql) + select_body


ORACLES = {
    "forecast_snaive_user_series": _oracle(
        _SNAIVE_SELECT + " WHERE s.n >= 14", _METRICS_USERS),
    "forecast_mean_events": _oracle(f"""
        SELECT s.name, s.index, 'MEAN' AS method, st.step,
               round(ybar - {Z80} * sd_y * sqrt(1 + 1.0/n), {_ROUND}) AS lower1,
               round(ybar - {Z95} * sd_y * sqrt(1 + 1.0/n), {_ROUND}) AS lower2,
               round(ybar, {_ROUND}) AS mean,
               round(ybar + {Z80} * sd_y * sqrt(1 + 1.0/n), {_ROUND}) AS upper1,
               round(ybar + {Z95} * sd_y * sqrt(1 + 1.0/n), {_ROUND}) AS upper2
        FROM stats s CROSS JOIN steps st
    """),
    "forecast_naive_events": _oracle(f"""
        SELECT s.name, s.index, 'NAIVE' AS method, st.step,
               round(y_last - {Z80} * sd_diff * sqrt(st.step), {_ROUND}) AS lower1,
               round(y_last - {Z95} * sd_diff * sqrt(st.step), {_ROUND}) AS lower2,
               round(y_last, {_ROUND}) AS mean,
               round(y_last + {Z80} * sd_diff * sqrt(st.step), {_ROUND}) AS upper1,
               round(y_last + {Z95} * sd_diff * sqrt(st.step), {_ROUND}) AS upper2
        FROM stats s
        JOIN diffs d ON s.name = d.name AND s.index = d.index
        CROSS JOIN steps st
    """),
    "forecast_snaive_events": _oracle(_SNAIVE_SELECT),
    "forecast_drift_events": _oracle(f"""
        SELECT s.name, s.index, 'DRIFT' AS method, st.step,
               round(y_last + st.step * b - {Z80} * sd_diff * sqrt(st.step * (1 + st.step / (n - 1.0))), {_ROUND}) AS lower1,
               round(y_last + st.step * b - {Z95} * sd_diff * sqrt(st.step * (1 + st.step / (n - 1.0))), {_ROUND}) AS lower2,
               round(y_last + st.step * b, {_ROUND}) AS mean,
               round(y_last + st.step * b + {Z80} * sd_diff * sqrt(st.step * (1 + st.step / (n - 1.0))), {_ROUND}) AS upper1,
               round(y_last + st.step * b + {Z95} * sd_diff * sqrt(st.step * (1 + st.step / (n - 1.0))), {_ROUND}) AS upper2
        FROM (SELECT *, (y_last - y_first) / (n - 1.0) AS b FROM stats) s
        JOIN diffs d ON s.name = d.name AND s.index = d.index
        CROSS JOIN steps st
    """),
}


def _indexed_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared per-series time scaffold: every metric row plus its
    0-based position ``t``, series length ``n``, and seasonal lag
    ``lag7`` — the ONE definition of the holdout geometry used by
    :func:`_holdout_preds`, :func:`rolling_origin_backtest`,
    :func:`forecast_mase_scores`, :func:`conformal_snaive_intervals`,
    :func:`conformal_coverage_backtest`,
    :func:`interval_score_backtest`, :func:`theil_u2_backtest` (which
    adds ``y_prev``) and :func:`boxcox_guerrero_lambda` (a diverging
    copy of this frame would silently desync a scorer from the preds it
    scores)."""
    from pyspark.sql.window import Window

    metrics = _metrics(spark, sf_dir)
    w = Window.partitionBy("name", "index").orderBy("evaluationDate")
    wall = Window.partitionBy("name", "index")
    return (metrics
            .withColumn("t", F.row_number().over(w) - 1)
            .withColumn("n", F.count(F.lit(1)).over(wall))
            .withColumn("lag7", F.lag("value", 7).over(w)))


def _holdout_preds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(name, index, method, h, value, pred) for the 7-point holdout of
    every events-derived series under all four closed forms — shared by
    :func:`backtest_closed_forms` and :func:`ensemble_closed_forms`."""
    t = _indexed_series(spark, sf_dir)
    train = (t.where(F.col("t") < F.col("n") - 7)
             .groupBy("name", "index")
             .agg(F.avg("value").alias("mean_v"),
                  F.count(F.lit(1)).alias("n_train"),
                  F.max_by("value", "t").alias("last_v"),
                  F.min_by("value", "t").alias("first_v")))
    holdout = (t.where(F.col("t") >= F.col("n") - 7)
               .withColumn("h", F.col("t") - (F.col("n") - 7) + 1))
    # r9 (guide §2.4): the four method branches below each re-ran this
    # join (and the whole indexed-series chain under it) — one
    # series×7-row cut keeps the scaffold single-run per query
    joined = holdout.join(train, ["name", "index"]).localCheckpoint()

    def _one(method: str, pred) -> DataFrame:
        return joined.select("name", "index",
                             F.lit(method).alias("method"),
                             F.col("h"), F.col("value"),
                             pred.alias("pred"))

    # n_train=1 ⇒ 0 denominator: Spark double x/0 is NULL but DuckDB is
    # Infinity — nullif on BOTH engines makes the degenerate series agree
    # (NULL pred → NULL mae/rmse on both).
    drift = (F.col("last_v") + F.col("h")
             * (F.col("last_v") - F.col("first_v"))
             / F.nullif(F.col("n_train") - F.lit(1), F.lit(0)))
    return (_one("MEAN", F.col("mean_v"))
            .unionByName(_one("NAIVE", F.col("last_v")))
            .unionByName(_one("SNAIVE", F.col("lag7")))
            .unionByName(_one("DRIFT", drift)))


def backtest_closed_forms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-method holdout backtest: hold out the last 7 points of each
    events-derived series and score all four closed-form forecasters
    (MEAN / NAIVE / SNAIVE / DRIFT) on them — MAE + RMSE per (series,
    method).  This is the model-selection table a forecasting service
    derives its method recommendation from, and with closed-form
    predictors it is exactly SQL-expressible, so the whole
    train/predict/align/score path is hash-checked.

    Scale shape: one windowed pass to index the series, one per-series
    train aggregate joined back to the 7 holdout rows (same-key join),
    a 4-way union of constant-width predictions, one final aggregation —
    everything keyed by the series key, nothing quadratic.
    """
    return _backtest_from_preds(_holdout_preds(spark, sf_dir))


def _backtest_from_preds(preds: DataFrame) -> DataFrame:
    """Per-(series, method) MAE/RMSE off a ``_holdout_preds`` frame —
    shared so :func:`ensemble_closed_forms` can score its OWN preds
    frame instead of rebuilding the whole scaffold a second time."""
    err = F.col("value") - F.col("pred")
    return (preds.groupBy("name", "index", "method")
            .agg(F.count(F.lit(1)).alias("n_holdout"),
                 F.round(F.avg(F.abs(err)), _ROUND).alias("mae"),
                 F.round(F.sqrt(F.avg(err * err)), _ROUND).alias("rmse")))


def ensemble_closed_forms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-weight ENSEMBLE of the four closed forms on the same
    holdout — the exactly-oracled twin of the HYBRID method (R:321-337
    combines its component forecasts with CV weights; the equal-weight
    combination is the classic robust baseline that is hard to beat,
    Makridakis M-competitions).  Per series: ensemble MAE/RMSE, the
    best single method's MAE, and whether the ensemble wins — the
    table that justifies (or refutes) combination for each series.

    Per-point ensemble = avg over the methods' predictions (NULL
    components — short-series SNAIVE/DRIFT — drop out identically on
    both engines); comparisons use the ROUNDED maes so the win flag
    cannot flip on float noise.  Scale: everything re-aggregates the
    shared holdout-preds frame on its own series key."""
    # r9 (guide §2.4): one preds frame for BOTH the ensemble score and
    # the best-single table (was two full scaffold rebuilds)
    preds = _holdout_preds(spark, sf_dir)
    per_point = (preds.groupBy("name", "index", "h")
                 .agg(F.max("value").alias("value"),
                      F.avg("pred").alias("ens_pred")))
    err = F.col("value") - F.col("ens_pred")
    ens = (per_point.groupBy("name", "index")
           .agg(F.round(F.avg(F.abs(err)), _ROUND).alias("ens_mae"),
                F.round(F.sqrt(F.avg(err * err)), _ROUND)
                .alias("ens_rmse")))
    best = (_backtest_from_preds(preds)
            .groupBy("name", "index")
            .agg(F.min("mae").alias("best_single_mae")))
    return (ens.join(best, ["name", "index"])
            .withColumn("ensemble_wins",
                        F.col("ens_mae") < F.col("best_single_mae")))


_RO_FOLDS = 3      # rolling origins at n-7, n-14, n-21 (tsCV folds)


def rolling_origin_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin cross-validation (Hyndman's tsCV, the evaluation
    scheme behind the reference HYBRID's cvts weighting, R:326): three
    origins per series (cutoffs n-7, n-14, n-21), a 7-step test window
    after each, NAIVE and SNAIVE scored per fold — the forecast
    analogue of k-fold CV where folds must respect time order.

    One scan: the indexed series cross-joins a BROADCAST 3-row fold
    frame, and train/test splits are predicates on (t, cutoff) — never
    three passes over events.  Folds with under 8 training points drop
    (both engines, same predicate).  Scale: everything keys on
    (series, fold); the fold fan-out is the constant 3."""
    t = _indexed_series(spark, sf_dir)
    folds = (spark.range(1, _RO_FOLDS + 1)
             .select(F.col("id").cast("int").alias("fold")))
    tf = (t.crossJoin(F.broadcast(folds))
          .withColumn("cutoff", F.col("n") - 7 * F.col("fold"))
          .where(F.col("cutoff") >= 8))
    train = (tf.where(F.col("t") < F.col("cutoff"))
             .groupBy("name", "index", "fold")
             .agg(F.max_by("value", "t").alias("last_v")))
    test = tf.where((F.col("t") >= F.col("cutoff"))
                    & (F.col("t") < F.col("cutoff") + 7))
    joined = test.join(train, ["name", "index", "fold"])
    preds = (joined.select("name", "index", "fold",
                           F.lit("NAIVE").alias("method"), "value",
                           F.col("last_v").alias("pred"))
             .unionByName(
                 joined.select("name", "index", "fold",
                               F.lit("SNAIVE").alias("method"), "value",
                               F.col("lag7").alias("pred"))))
    err = F.col("value") - F.col("pred")
    return (preds.groupBy("name", "index", "fold", "method")
            .agg(F.count(F.lit(1)).alias("n_test"),
                 F.round(F.avg(F.abs(err)), _ROUND).alias("mae")))


def seasonal_residual_outliers(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """Seasonality-aware anomaly detection on the metric series: the
    residual against a SNAIVE baseline (value − value[t−7]) is z-scored
    per series and |z| > 3 rows are flagged — the upgrade over the raw
    z-score monitor (`events_zscore_outliers`), which false-alarms on
    every weekly peak because it ignores the cycle.  This is the
    scheduled anomaly job a metrics service runs on exactly the series
    the reference forecasts.

    One windowed pass for the lag, one per-series moment aggregate
    broadcast back (never a full-table window), one map-side flag
    filter.  z rounds at 1e-6; a zero-variance series yields NULL z on
    both engines (nullif)."""
    from pyspark.sql.window import Window

    metrics = _metrics(spark, sf_dir)
    w = Window.partitionBy("name", "index").orderBy("evaluationDate")
    resid = (metrics
             .withColumn("residual",
                         F.col("value") - F.lag("value", 7).over(w))
             .where(F.col("residual").isNotNull()))
    moments = (resid.groupBy("name", "index")
               .agg(F.avg("residual").alias("mu"),
                    F.stddev_samp("residual").alias("sd")))
    z = F.round((F.col("residual") - F.col("mu"))
                / F.nullif(F.col("sd"), F.lit(0.0)), 6)
    return (resid.join(moments, ["name", "index"])
            .withColumn("z", z)
            .where(F.abs(F.col("z")) > 3)
            .select("name", "index", "evaluationDate", "value",
                    F.round("residual", 6).alias("residual"), "z"))


# Brownian-bridge sup-norm 5% critical value (Kolmogorov distribution)
# — the CUSUM significance threshold after sd·√n normalization
_CUSUM_CRIT = 1.358


def series_changepoint_cusum(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """CUSUM change-point detection per metric series (Page 1954): the
    running sum of mean-centered values peaks (in |·|) at the most
    likely level-shift location; normalized by sd·√n it converges to a
    Brownian bridge, so |S|max/(sd·√n) > 1.358 rejects "no change" at
    ~5% — the monitoring read that tells a metrics service a series
    MOVED, where the z-score monitors only flag single points.

    Per-step centered terms snap to the 1e-6 grid pre-sum; the running
    window sum re-rounds at 1e-6 (engine summation-order drift is far
    below the grid), and the argmax breaks ties by earliest date.  One
    per-series moment aggregate broadcast back + one ordered window —
    cost identical to the seasonal-residual monitor."""
    from pyspark.sql.window import Window

    metrics = _metrics(spark, sf_dir)
    moments = (metrics.groupBy("name", "index")
               .agg(F.round(F.avg("value"), 6).alias("mu"),
                    F.stddev_pop("value").alias("sd"),
                    F.count(F.lit(1)).alias("n_points")))
    cen = (metrics.join(moments, ["name", "index"])
           .withColumn("cterm", F.round(F.col("value") - F.col("mu"), 6)))
    wcum = (Window.partitionBy("name", "index").orderBy("evaluationDate")
            .rowsBetween(Window.unboundedPreceding, 0))
    s = cen.withColumn("s", F.round(F.sum("cterm").over(wcum), 6))
    wpick = (Window.partitionBy("name", "index")
             .orderBy(F.abs(F.col("s")).desc(),
                      F.col("evaluationDate").asc()))
    stat = F.round(F.abs(F.col("s"))
                   / F.nullif(F.col("sd") * F.sqrt(F.col("n_points")),
                              F.lit(0.0)), 6)
    return (s.withColumn("rn", F.row_number().over(wpick))
            .where(F.col("rn") == 1)
            .select("name", "index",
                    F.col("evaluationDate").alias("changepoint_date"),
                    "n_points",
                    F.round(F.abs("s"), 6).alias("cusum_abs"),
                    stat.alias("cusum_stat"),
                    (stat > _CUSUM_CRIT).alias("significant"))
            .orderBy("name", "index"))


_RC_WIN = 7


def series_rolling_correlation(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """Trailing rolling Pearson correlation over the last 7 ALIGNED
    OBSERVATIONS of every metric series against the ``purchase``
    series — the co-movement monitor behind "did clicks decouple from
    purchases this week?" dashboards.  Only full 7-point windows emit.
    The window is 7 joined observations, not 7 calendar days: if a
    date lacks a purchase-series row the window spans more than 7
    days (ADVICE r3 — intentional; a rangeBetween day-offset frame
    would instead shrink the sample on gappy data, and the daily
    metric builder emits dense dates in practice).

    The purchase side is one tiny aligned series joined back on the
    date key (broadcast); all moments come from trailing window sums
    (population formulas), with the correlation rounded at 4dp and a
    zero-variance guard on both engines.  Windows partition per series
    — never a global sort."""
    from pyspark.sql.window import Window

    metrics = _metrics(spark, sf_dir)
    pur = (metrics.where(F.col("name") == "purchase")
           .select(F.col("evaluationDate").alias("d"),
                   F.col("value").alias("y")))
    pair = (metrics.where(F.col("name") != "purchase")
            .join(F.broadcast(pur),
                  F.col("evaluationDate") == F.col("d"))
            .select("name", "index", "evaluationDate",
                    F.col("value").alias("x"), "y"))
    w = (Window.partitionBy("name", "index").orderBy("evaluationDate")
         .rowsBetween(-(_RC_WIN - 1), 0))
    mx, my = F.avg("x").over(w), F.avg("y").over(w)
    # clamp at 0: avg(x^2) - mean^2 cancels to ~-1e-13 on a flat
    # window, and DuckDB hard-errors on sqrt(negative) while Spark
    # returns NaN — greatest(…, 0) + nullif keeps both engines on the
    # NULL path for zero-variance windows (review finding)
    sxx = F.greatest(F.avg(F.col("x") * F.col("x")).over(w) - mx * mx,
                     F.lit(0.0))
    syy = F.greatest(F.avg(F.col("y") * F.col("y")).over(w) - my * my,
                     F.lit(0.0))
    sxy = F.avg(F.col("x") * F.col("y")).over(w) - mx * my
    nw = F.count(F.lit(1)).over(w)
    return (pair
            .withColumn("nw", nw)
            .withColumn("corr7",
                        F.round(sxy / F.nullif(F.sqrt(sxx * syy),
                                               F.lit(0.0)), 4))
            .where(F.col("nw") == _RC_WIN)
            .select("name", "index", "evaluationDate", "corr7")
            .orderBy("name", "index", "evaluationDate"))


_CONF_ALPHA = 0.9     # conformal coverage target (90%)
_CONF_CAL = 7         # calibration window: the week BEFORE the base week
_CONF_H = 7           # forecast horizon = the final (base) week


def series_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series least-squares trend: slope/day, intercept, and R² of
    value ~ day-index — the closed-form trend read that complements
    `series_changepoint_cusum` (CUSUM finds a SHIFT, OLS quantifies a
    DRIFT; the reference's DRIFT forecaster R:104-124 assumes exactly
    this linear model).

    One per-series aggregate of raw sums (Σx, Σy, Σxy, Σx², Σy²) —
    the numeric-profile cost shape; the closed forms divide exact-ish
    sums and round at 6dp, with zero-variance guards on both sides."""
    from pyspark.sql.window import Window
    metrics = _metrics(spark, sf_dir)
    w = Window.partitionBy("name", "index").orderBy("evaluationDate")
    pts = metrics.withColumn(
        "x", (F.row_number().over(w) - 1).cast("double"))
    a = (pts.groupBy("name", "index")
         .agg(F.count(F.lit(1)).alias("n_points"),
              F.sum("x").alias("sx"),
              F.sum("value").alias("sy"),
              F.sum(F.col("x") * F.col("value")).alias("sxy"),
              F.sum(F.col("x") * F.col("x")).alias("sxx"),
              F.sum(F.col("value") * F.col("value")).alias("syy")))
    n = F.col("n_points").cast("double")
    mx, my = F.col("sx") / n, F.col("sy") / n
    vx = F.greatest(F.col("sxx") / n - mx * mx, F.lit(0.0))
    vy = F.greatest(F.col("syy") / n - my * my, F.lit(0.0))
    cxy = F.col("sxy") / n - mx * my
    slope = cxy / F.nullif(vx, F.lit(0.0))
    r2 = (cxy * cxy) / F.nullif(vx * vy, F.lit(0.0))
    return (a.select("name", "index", "n_points",
                     F.round(slope, 6).alias("slope"),
                     F.round(my - slope * mx, 6).alias("intercept"),
                     F.round(r2, 6).alias("r2"))
            .orderBy("name", "index"))


def conformal_snaive_intervals(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """Split-conformal prediction intervals around the SNAIVE forecast
    (Vovk et al. 2005; the distribution-free upgrade of the Gaussian
    bands the reference derives from residual variance R:167-173): the
    week BEFORE the forecast base week — t ∈ [n−14, n−7), disjoint
    from the final week whose values become the SNAIVE points — is
    held out as the CALIBRATION slice, scored with |y − y[t−7]|, and
    the interval half-width is the exact interpolated 90th-percentile
    of those scores — valid coverage under exchangeability with NO
    normality assumption.  (ADVICE r3: calibrating on the SAME
    trailing week that supplies the point forecasts made the "split"
    non-disjoint; the calibration window now ends where the forecast
    base week begins.)

    Per series: one window pass for the lag-7 residuals, one exact
    per-series percentile over 7 calibration points (the
    `value_percentiles_by_type` percentile pairing: Spark `percentile`
    == DuckDB `quantile_cont`, both type-7 interpolation), and a
    horizon explode whose point forecasts repeat the final observed
    week — the closed-form SNAIVE the oracle already models."""
    seq = _indexed_series(spark, sf_dir)
    calib = (seq.where((F.col("t") >= F.col("n") - (_CONF_CAL + _CONF_H))
                       & (F.col("t") < F.col("n") - _CONF_H)
                       & F.col("lag7").isNotNull())
             .groupBy("name", "index")
             .agg(F.round(F.percentile(
                 F.abs(F.col("value") - F.col("lag7")),
                 F.lit(_CONF_ALPHA)), 6).alias("q_width")))
    last_week = (seq.where(F.col("t") >= F.col("n") - _CONF_H)
                 .select("name", "index",
                         (F.col("t") - (F.col("n") - _CONF_H)).alias("pos"),
                         F.col("value").alias("point")))
    steps = (last_week
             .withColumn("step", F.col("pos").cast("bigint") + 1)
             .join(calib, ["name", "index"])
             .select("name", "index", "step",
                     F.round("point", 6).alias("point"),
                     "q_width",
                     F.round(F.col("point") - F.col("q_width"), 6)
                     .alias("lower"),
                     F.round(F.col("point") + F.col("q_width"), 6)
                     .alias("upper")))
    return steps.orderBy("name", "index", "step")


QUERIES.update({
    "backtest_closed_forms": backtest_closed_forms,
    "ensemble_closed_forms": ensemble_closed_forms,
    "rolling_origin_backtest": rolling_origin_backtest,
    "seasonal_residual_outliers": seasonal_residual_outliers,
    "series_changepoint_cusum": series_changepoint_cusum,
    "series_rolling_correlation": series_rolling_correlation,
    "series_trend_ols": series_trend_ols,
    "conformal_snaive_intervals": conformal_snaive_intervals,
})

# Shared CTE chain (through preds) for the holdout-based evals — one
# definition, composed by both oracles (review precedent: compose, don't
# copy the formula).
_BT_PREDS_SQL = f"""m AS ({_METRICS_EVENTS}),
        t AS (
            SELECT name, index, value,
                   row_number() OVER w - 1 AS t,
                   count(*) OVER (PARTITION BY name, index) AS n,
                   lag(value, 7) OVER w AS lag7
            FROM m
            WINDOW w AS (PARTITION BY name, index ORDER BY evaluationDate)
        ), train AS (
            SELECT name, index, avg(value) AS mean_v,
                   count(*) AS n_train,
                   arg_max(value, t) AS last_v,
                   arg_min(value, t) AS first_v
            FROM t WHERE t < n - 7 GROUP BY 1, 2
        ), holdout AS (
            SELECT *, t - (n - 7) + 1 AS h FROM t WHERE t >= n - 7
        ), preds AS (
            SELECT h.name, h.index, 'MEAN' AS method, h.h, h.value,
                   tr.mean_v AS pred
            FROM holdout h JOIN train tr USING (name, index)
            UNION ALL
            SELECT h.name, h.index, 'NAIVE', h.h, h.value, tr.last_v
            FROM holdout h JOIN train tr USING (name, index)
            UNION ALL
            SELECT h.name, h.index, 'SNAIVE', h.h, h.value, h.lag7
            FROM holdout h JOIN train tr USING (name, index)
            UNION ALL
            SELECT h.name, h.index, 'DRIFT', h.h, h.value,
                   tr.last_v + h.h * (tr.last_v - tr.first_v)
                       / nullif(tr.n_train - 1, 0)
            FROM holdout h JOIN train tr USING (name, index)
        )"""

_BT_SCORE_SQL = f"""SELECT name, index, method, count(*) AS n_holdout,
               round(avg(abs(value - pred)), {_ROUND}) AS mae,
               round(sqrt(avg((value - pred) * (value - pred))),
                     {_ROUND}) AS rmse
        FROM preds GROUP BY 1, 2, 3"""

ORACLES.update({
    "seasonal_residual_outliers": f"""
        WITH m AS ({_METRICS_EVENTS}),
        resid AS (
            SELECT name, index, evaluationDate, value,
                   value - lag(value, 7) OVER (PARTITION BY name, index
                       ORDER BY evaluationDate) AS residual
            FROM m
        ), filtered AS (
            SELECT * FROM resid WHERE residual IS NOT NULL
        ), moments AS (
            SELECT name, index, avg(residual) AS mu,
                   stddev_samp(residual) AS sd
            FROM filtered GROUP BY 1, 2
        ), scored AS (
            SELECT f.name, f.index, f.evaluationDate, f.value,
                   round(f.residual, 6) AS residual,
                   round((f.residual - mo.mu) / nullif(mo.sd, 0), 6) AS z
            FROM filtered f JOIN moments mo USING (name, index)
        )
        SELECT * FROM scored WHERE abs(z) > 3
    """,
    "backtest_closed_forms": f"""
        WITH {_BT_PREDS_SQL}
        {_BT_SCORE_SQL}
    """,
    "ensemble_closed_forms": f"""
        WITH {_BT_PREDS_SQL},
        per_point AS (
            SELECT name, index, h, max(value) AS value,
                   avg(pred) AS ens_pred
            FROM preds GROUP BY 1, 2, 3
        ), ens AS (
            SELECT name, index,
                   round(avg(abs(value - ens_pred)), {_ROUND}) AS ens_mae,
                   round(sqrt(avg((value - ens_pred)
                                  * (value - ens_pred))), {_ROUND})
                       AS ens_rmse
            FROM per_point GROUP BY 1, 2
        ), bt AS (
            {_BT_SCORE_SQL}
        ), best AS (
            SELECT name, index, min(mae) AS best_single_mae
            FROM bt GROUP BY 1, 2
        )
        SELECT e.name, e.index, e.ens_mae, e.ens_rmse, b.best_single_mae,
               e.ens_mae < b.best_single_mae AS ensemble_wins
        FROM ens e JOIN best b USING (name, index)
    """,
    "rolling_origin_backtest": f"""
        WITH m AS ({_METRICS_EVENTS}),
        t AS (
            SELECT name, index, value,
                   row_number() OVER w - 1 AS t,
                   count(*) OVER (PARTITION BY name, index) AS n,
                   lag(value, 7) OVER w AS lag7
            FROM m
            WINDOW w AS (PARTITION BY name, index ORDER BY evaluationDate)
        ), tf AS (
            SELECT t.*, f.fold, t.n - 7 * f.fold AS cutoff
            FROM t CROSS JOIN (SELECT CAST(unnest(range(1, {_RO_FOLDS + 1}))
                                      AS INTEGER) AS fold) f
            WHERE t.n - 7 * f.fold >= 8
        ), train AS (
            SELECT name, index, fold, arg_max(value, t) AS last_v
            FROM tf WHERE t < cutoff GROUP BY 1, 2, 3
        ), test AS (
            SELECT * FROM tf WHERE t >= cutoff AND t < cutoff + 7
        ), preds AS (
            SELECT te.name, te.index, te.fold, 'NAIVE' AS method,
                   te.value, tr.last_v AS pred
            FROM test te JOIN train tr USING (name, index, fold)
            UNION ALL
            SELECT te.name, te.index, te.fold, 'SNAIVE', te.value, te.lag7
            FROM test te JOIN train tr USING (name, index, fold)
        )
        SELECT name, index, fold, method, count(*) AS n_test,
               round(avg(abs(value - pred)), {_ROUND}) AS mae
        FROM preds GROUP BY 1, 2, 3, 4
    """,
})


def forecast_cache_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-grade proof of the full wrapper lifecycle (S3-S6 + §2A.6,
    R:104-124): against a FRESH artifact store, the SNAIVE wrapper runs
    twice for one series — call 1 takes the no-model train path (scan →
    fit → save model → prime cache at 14, R:92-93), call 2 must take the
    pure cache-HIT path (its ``compute_series`` raises if the source is
    ever touched, mirroring the reference's no-scan hit, R:109-110).
    The returned call-2 rows equal the closed-form SNAIVE SQL oracle, so
    a hash match proves model save/load, cache priming, the length≥h
    validity rule, and prefix-slice hits end-to-end — the cache layer's
    first hard driver signal (previously pytest-only).
    """
    import os as _os
    import shutil
    import tempfile

    from .. import schemas
    from ..sources import search_element
    from .cache import ForecastStore

    root = _os.path.join(tempfile.gettempdir(), "qrapids_cache_roundtrip",
                         _os.path.basename(sf_dir.rstrip("/")))
    shutil.rmtree(root, ignore_errors=True)
    store = ForecastStore(root)
    metrics = _metrics(spark, sf_dir)
    name, index = "click", "test.metrics.events"

    def compute_series():
        return search_element(metrics, name, index).toPandas()

    store.forecast_with_cache(name, index, "SNAIVE", 7, 14, compute_series)

    def must_not_scan():
        raise AssertionError(
            "cache-hit path touched the source — wrapper semantics broken")

    rows = store.forecast_with_cache(name, index, "SNAIVE", 7, 14,
                                     must_not_scan)
    out = spark.createDataFrame(rows, schema=schemas.FORECAST)
    return _rounded_bands(
        out, F.col("step").cast("long").alias("step"))


QUERIES["forecast_cache_roundtrip"] = forecast_cache_roundtrip
ORACLES["forecast_cache_roundtrip"] = _oracle(
    _SNAIVE_SELECT + " WHERE s.name = 'click'")

def forecast_snaive_monthly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly-frequency SNAIVE (m=12, horizon 12) over orders revenue —
    the reference's ``frequencyts`` parameter (R:32, R:36: weekly data
    uses 7, monthly 12) exercised at the non-default frequency with a
    full closed-form oracle.  Series: per-o_orderpriority monthly revenue
    in $M (the 1e-6 scaling keeps seasonal-diff stddevs ~1e1, so the
    6-dp output rounding sits 5+ orders above cross-engine float drift).
    """
    orders = load_table(spark, sf_dir, "orders")
    metrics = (orders
               .groupBy(F.col("o_orderpriority").alias("name"),
                        F.trunc("o_orderdate", "month")
                        .alias("evaluationDate"))
               .agg(F.round(F.sum(F.col("o_totalprice") / F.lit(1e6)), 6)
                    .alias("value"))
               .select("name", F.lit("test.metrics.orders").alias("index"),
                       "evaluationDate", "value"))
    out = forecast_batch(spark, metrics, "SNAIVE", frequency=12, horizon=12)
    return _rounded_bands(
        out, F.col("step").cast("long").alias("step"))


_METRICS_ORDERS_MONTHLY = """
    SELECT o_orderpriority AS name,
           'test.metrics.orders' AS index,
           date_trunc('month', o_orderdate) AS evaluationDate,
           round(sum(o_totalprice / 1000000.0), 6) AS value
    FROM orders GROUP BY 1, 2, 3
"""

_SNAIVE_MONTHLY_ORACLE = f"""
WITH metrics AS ({_METRICS_ORDERS_MONTHLY}), series AS (
    SELECT name, index,
           row_number() OVER (PARTITION BY name, index
                              ORDER BY evaluationDate ASC, value ASC) - 1 AS t,
           CAST(value AS DOUBLE) AS y
    FROM metrics
), stats AS (
    SELECT name, index, count(*) AS n FROM series GROUP BY 1, 2
), sdiffs AS (
    SELECT name, index, stddev_samp(d) AS sd_sdiff
    FROM (SELECT name, index,
                 y - lag(y, 12) OVER (PARTITION BY name, index ORDER BY t) AS d
          FROM series)
    WHERE d IS NOT NULL
    GROUP BY name, index
), steps AS (
    SELECT CAST(h AS BIGINT) AS step FROM generate_series(1, 12) AS g(h)
)
SELECT s.name, s.index, 'SNAIVE' AS method, st.step,
       round(sv.y - {{Z80}} * sd_sdiff * sqrt(floor((st.step - 1) / 12) + 1), {{R}}) AS lower1,
       round(sv.y - {{Z95}} * sd_sdiff * sqrt(floor((st.step - 1) / 12) + 1), {{R}}) AS lower2,
       round(sv.y, {{R}}) AS mean,
       round(sv.y + {{Z80}} * sd_sdiff * sqrt(floor((st.step - 1) / 12) + 1), {{R}}) AS upper1,
       round(sv.y + {{Z95}} * sd_sdiff * sqrt(floor((st.step - 1) / 12) + 1), {{R}}) AS upper2
FROM stats s
JOIN sdiffs sd2 ON s.name = sd2.name AND s.index = sd2.index
CROSS JOIN steps st
JOIN series sv
  ON sv.name = s.name AND sv.index = s.index
 AND sv.t = s.n - 12 + ((st.step - 1) % 12)
""".format(Z80=Z80, Z95=Z95, R=_ROUND)

QUERIES["forecast_snaive_monthly_orders"] = forecast_snaive_monthly_orders
ORACLES["forecast_snaive_monthly_orders"] = _SNAIVE_MONTHLY_ORACLE


_BT_H = 7  # holdout length for the iterative-method backtest


def forecast_method_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holdout MAE for EVERY iterative reference method (R:6-7) on
    every metric series — the rows-only driver row that makes numeric
    regressions in the fit layer visible in the round artifact, not
    just in local pytest (r3 verdict item 9).  Per series: train all 10
    methods on y[:-7], forecast 7, score MAE and RMSE against the
    held-out week.  Deterministic seeds (name, index, method,
    "backtest"), so a numerics change in ANY model shows up as a
    changed spark_rows/value set across rounds.

    Shape: ONE applyInPandas pass over (series × method) groups — the
    method fan-out is a MAP-SIDE explode of the 10-name registry (no
    join, no cartesian), so every (series, method) fit is its own task
    and the wall-clock is the slowest single fit (~6 s for HYBRID /
    BAGGEDETS on a 23-point train window), not the 10-method serial
    chain per series (measured: 230 s with per-series groups → the
    per-fit grouping saturates the cores).  Rows out = series ×
    methods, bounded by the registry size.  Same 100 TB story as
    ``forecast_batch``: fits fan out one-per-task, each ≤10k points
    (R:28 cap)."""
    import pandas as pd

    from .api import prepare_series
    from .dispatch import METHODS, fit_method, forecast_fitted
    from .models.common import DEGENERATE_ERRORS

    def backtest(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        name = str(pdf["name"].iloc[0])
        index = str(pdf["index"].iloc[0])
        method = str(pdf["method"].iloc[0])
        y, ds_days = prepare_series(pdf)
        train, hold = y[:-_BT_H], y[-_BT_H:]
        seed_key = (name, index, method, "backtest")
        try:
            model = fit_method(method, train, 7, ds_days=ds_days[:-_BT_H],
                               horizon=_BT_H, seed_key=seed_key)
            mean = forecast_fitted(model, _BT_H, seed_key=seed_key)["mean"]
            err = hold - np.asarray(mean, float)
            mae = round(float(np.mean(np.abs(err))), 6)
            rmse = round(float(np.sqrt(np.mean(err ** 2))), 6)
        except DEGENERATE_ERRORS:
            mae = rmse = float("nan")
        return pd.DataFrame([(name, index, method, _BT_H, mae, rmse)],
                            columns=["name", "index", "method",
                                     "n_holdout", "mae", "rmse"])

    metrics = (_metrics(spark, sf_dir)
               .withColumn("method", F.explode(F.array(
                   *[F.lit(m) for m in METHODS])))
               # EXPLICIT partition count: the shuffled bytes are tiny
               # (a few KB), so AQE would coalesce to ONE partition and
               # serialize 50 compute-heavy fits (measured 219 s → 29 s
               # with the pin).  A user-specified repartition is exempt
               # from AQE coalescing, and groupBy on the same keys
               # reuses the partitioning — still one shuffle total.
               # Cost here is CPU-bound per group, not data-bound: the
               # one case where "let AQE size it" is wrong.
               .repartition(64, "name", "index", "method"))
    return (metrics.groupBy("name", "index", "method")
            .applyInPandas(backtest,
                           schema="name string, index string, "
                                  "method string, n_holdout int, "
                                  "mae double, rmse double"))
    # no orderBy: a global sort's range-sampling job would re-run every
    # fit (2× the compute); the driver's rows-only check doesn't read
    # order, and the local test sorts client-side


QUERIES["forecast_method_backtest"] = forecast_method_backtest
# rows-only by design: the 10 fits are iterative optimizations, not
# SQL-expressible — the closed-form twin with a full oracle is
# backtest_closed_forms


ORACLES["series_changepoint_cusum"] = f"""
    WITH m AS ({_METRICS_EVENTS}),
    moments AS (
        SELECT name, index, round(avg(value), 6) AS mu,
               stddev_pop(value) AS sd, count(*) AS n_points
        FROM m GROUP BY name, index
    ), cen AS (
        SELECT m.name, m.index, m.evaluationDate, mo.sd, mo.n_points,
               round(m.value - mo.mu, 6) AS cterm
        FROM m JOIN moments mo USING (name, index)
    ), s AS (
        SELECT *, round(sum(cterm) OVER (PARTITION BY name, index
                        ORDER BY evaluationDate
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                        6) AS s
        FROM cen
    ), picked AS (
        SELECT *, row_number() OVER (PARTITION BY name, index
                     ORDER BY abs(s) DESC, evaluationDate ASC) AS rn
        FROM s
    )
    SELECT name, index, evaluationDate AS changepoint_date, n_points,
           round(abs(s), 6) AS cusum_abs,
           round(abs(s) / nullif(sd * sqrt(n_points), 0.0), 6)
               AS cusum_stat,
           round(abs(s) / nullif(sd * sqrt(n_points), 0.0), 6)
               > {_CUSUM_CRIT} AS significant
    FROM picked WHERE rn = 1 ORDER BY name, index
"""

ORACLES["series_rolling_correlation"] = f"""
    WITH m AS ({_METRICS_EVENTS}),
    pur AS (
        SELECT evaluationDate AS d, value AS y FROM m
        WHERE name = 'purchase'
    ), pair AS (
        SELECT m.name, m.index, m.evaluationDate,
               m.value AS x, p.y
        FROM m JOIN pur p ON m.evaluationDate = p.d
        WHERE m.name <> 'purchase'
    ), winst AS (
        SELECT name, index, evaluationDate,
               count(*) OVER w AS nw,
               avg(x) OVER w AS mx, avg(y) OVER w AS my,
               avg(x * x) OVER w AS mxx,
               avg(y * y) OVER w AS myy,
               avg(x * y) OVER w AS mxy
        FROM pair
        WINDOW w AS (PARTITION BY name, index ORDER BY evaluationDate
                     ROWS BETWEEN {_RC_WIN - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT name, index, evaluationDate,
           round((mxy - mx * my)
                 / nullif(sqrt(greatest(mxx - mx * mx, 0.0)
                               * greatest(myy - my * my, 0.0)), 0.0),
                 4) AS corr7
    FROM winst WHERE nw = {_RC_WIN}
    ORDER BY name, index, evaluationDate
"""

ORACLES["series_trend_ols"] = f"""
    WITH m AS ({_METRICS_EVENTS}),
    pts AS (
        SELECT name, index, value,
               CAST(row_number() OVER (PARTITION BY name, index
                    ORDER BY evaluationDate) - 1 AS DOUBLE) AS x
        FROM m
    ), a AS (
        SELECT name, index, count(*) AS n_points,
               sum(x) AS sx, sum(value) AS sy,
               sum(x * value) AS sxy, sum(x * x) AS sxx,
               sum(value * value) AS syy
        FROM pts GROUP BY name, index
    ), f AS (
        SELECT *, CAST(n_points AS DOUBLE) AS n,
               sx / n_points AS mx, sy / n_points AS my
        FROM a
    ), g AS (
        SELECT *,
               greatest(sxx / n - mx * mx, 0.0) AS vx,
               greatest(syy / n - my * my, 0.0) AS vy,
               sxy / n - mx * my AS cxy
        FROM f
    )
    SELECT name, index, n_points,
           round(cxy / nullif(vx, 0.0), 6) AS slope,
           round(my - (cxy / nullif(vx, 0.0)) * mx, 6) AS intercept,
           round((cxy * cxy) / nullif(vx * vy, 0.0), 6) AS r2
    FROM g ORDER BY name, index
"""

ORACLES["conformal_snaive_intervals"] = f"""
    WITH m AS ({_METRICS_EVENTS}),
    seq AS (
        SELECT name, index, value,
               row_number() OVER w - 1 AS t,
               count(*) OVER (PARTITION BY name, index) AS n,
               lag(value, 7) OVER w AS lag7
        FROM m
        WINDOW w AS (PARTITION BY name, index ORDER BY evaluationDate)
    ), calib AS (
        SELECT name, index,
               round(quantile_cont(abs(value - lag7), {_CONF_ALPHA}), 6)
                   AS q_width
        FROM seq
        WHERE t >= n - {_CONF_CAL + _CONF_H} AND t < n - {_CONF_H}
          AND lag7 IS NOT NULL
        GROUP BY name, index
    ), last_week AS (
        SELECT name, index,
               CAST(t - (n - {_CONF_H}) + 1 AS BIGINT) AS step,
               value AS point
        FROM seq WHERE t >= n - {_CONF_H}
    )
    SELECT l.name, l.index, l.step,
           round(l.point, 6) AS point, c.q_width,
           round(l.point - c.q_width, 6) AS lower,
           round(l.point + c.q_width, 6) AS upper
    FROM last_week l JOIN calib c USING (name, index)
    ORDER BY l.name, l.index, l.step
"""


# ---------------------------------------------------------------------------
# Round-4 addition: per-series autocorrelation function — the order-
# selection diagnostic behind the reference's ARIMA grid (R:84-95 picks
# p/q against exactly this statistic) and the data-driven check of its
# hand-asserted frequencyts=7 (R:32: a weekly cycle shows as an ACF
# spike at lag 7 — `series_dominant_period`'s time-domain sibling).

_ACF_MAX_LAG = 7

_LB_LAGS = 7
_CHI2_7DF_5PCT = 14.067140449340169   # chi2_0.95(7) literal


def _acf_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series wide row (name, index, n_points, r1..r7) of
    6dp-rounded autocorrelations — the shared input of
    `series_ljung_box` and `series_pacf`, computed exactly the way
    `series_acf` computes them (same lag windows, same centered-
    product aggregate, same rounding boundary)."""
    from pyspark.sql.window import Window
    metrics = _metrics(spark, sf_dir)
    means = (metrics.groupBy("name", "index")
             .agg(F.avg("value").alias("mu"),
                  F.count(F.lit(1)).alias("n_points")))
    w = Window.partitionBy("name", "index").orderBy("evaluationDate")
    lagged = metrics.select(
        "name", "index", "value",
        *[F.lag("value", k).over(w).alias(f"lag{k}")
          for k in range(1, _LB_LAGS + 1)])
    cen = lagged.join(F.broadcast(means), ["name", "index"])
    d0 = F.col("value") - F.col("mu")
    aggs = [F.sum(d0 * d0).alias("c0"),
            F.max("n_points").alias("n_points")]
    for k in range(1, _LB_LAGS + 1):
        dk = F.col(f"lag{k}") - F.col("mu")
        aggs.append(F.sum(F.when(F.col(f"lag{k}").isNotNull(),
                                 d0 * dk)).alias(f"c{k}"))
    a = cen.groupBy("name", "index").agg(*aggs)
    return a.select(
        "name", "index", "n_points",
        *[F.round(F.col(f"c{k}") / F.nullif(F.col("c0"), F.lit(0.0)),
                  _ROUND).alias(f"r{k}")
          for k in range(1, _LB_LAGS + 1)])


_ACF_WIDE_SQL = f"""m AS ({_METRICS_EVENTS}),
    means AS (
        SELECT name, index, avg(value) AS mu, count(*) AS n_points
        FROM m GROUP BY 1, 2
    ), lagged AS (
        SELECT name, index, value,
               {", ".join(f"lag(value, {k}) OVER w AS lag{k}"
                          for k in range(1, _LB_LAGS + 1))}
        FROM m WINDOW w AS (PARTITION BY name, index
                            ORDER BY evaluationDate)
    ), acfa AS (
        SELECT l.name, l.index,
               CAST(max(ms.n_points) AS BIGINT) AS n_points,
               sum((l.value - ms.mu) * (l.value - ms.mu)) AS c0,
               {", ".join(
                   f"sum(CASE WHEN l.lag{k} IS NOT NULL THEN "
                   f"(l.value - ms.mu) * (l.lag{k} - ms.mu) END) AS c{k}"
                   for k in range(1, _LB_LAGS + 1))}
        FROM lagged l JOIN means ms USING (name, index)
        GROUP BY 1, 2
    ), wide AS (
        SELECT name, index, n_points,
               {", ".join(f"round(c{k} / nullif(c0, 0.0), 6) AS r{k}"
                          for k in range(1, _LB_LAGS + 1))}
        FROM acfa
    )"""




def series_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF at lags 1..7 per metric series, with the ±1.96/√n white-
    noise band and a significance flag per lag (the Box-Jenkins
    identification read: MA(q) cuts off after lag q, AR decays;
    lag-7 spikes confirm the weekly seasonality the reference hard-
    codes).

    Built on the shared :func:`_acf_wide` aggregate (r7 refactor —
    one definition of the lag windows / centered products / rounding
    boundary now feeds ACF, Ljung-Box, and PACF).  Same closed-form-
    from-raw-sums shape as `series_trend_ols`: one lag-window pass
    per series, one aggregate of centered products, 6dp rounding at
    the ratio boundary, zero-variance nullif guard.  At 100 TB the
    cost is the forecast layer's per-series shuffle — lags are
    per-series windows, the mean join a tiny broadcast."""
    wide = _acf_wide(spark, sf_dir)
    acf_cols = ", ".join(f"{k}L, r{k}" for k in range(1, _ACF_MAX_LAG + 1))
    long = wide.select(
        "name", "n_points",
        F.expr(f"stack({_ACF_MAX_LAG}, {acf_cols}) AS (lag, acf)"))
    band = F.round(F.lit(1.96) / F.sqrt(F.col("n_points").cast("double")),
                   6)
    return (long
            .withColumn("wn_band", band)
            .withColumn("significant", F.abs("acf") > F.col("wn_band"))
            .select("name", "lag", "n_points", "acf", "wn_band",
                    "significant")
            .orderBy("name", "lag"))


_ACF_KS = list(range(1, _ACF_MAX_LAG + 1))
QUERIES["series_acf"] = series_acf
ORACLES["series_acf"] = f"""
    WITH {_ACF_WIDE_SQL},
    long AS (
        {" UNION ALL ".join(
            f"SELECT name, CAST({k} AS BIGINT) AS lag, n_points, "
            f"r{k} AS acf FROM wide"
            for k in _ACF_KS)}
    )
    SELECT name, lag, CAST(n_points AS BIGINT) AS n_points, acf,
           round(1.96 / sqrt(CAST(n_points AS DOUBLE)), 6) AS wn_band,
           abs(acf) > round(1.96 / sqrt(CAST(n_points AS DOUBLE)), 6)
               AS significant
    FROM long ORDER BY name, lag
"""


# ---------------------------------------------------------------------------
# Round-4 continuation: intermittent-demand forecasting (Croston) and
# hierarchical forecast reconciliation — two forecast surfaces the
# reference's 10-method registry (R:6-7) lacks entirely, both expressed
# so the driver hash-checks them end-to-end.

_CR_CAP = 24      # keep the last 24 demands: the dropped weights are
                  # <= 2^-23 ~ 1.2e-7, below the 6dp output grid
_CR_MOD = 101     # sparse deterministic user slice -> genuinely
_CR_RES = 7       # intermittent daily demand (40-60% zero days)


def forecast_croston_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method (Croston 1972) + the Syntetos-Boylan SBA
    correction (2005) for INTERMITTENT demand — the forecaster for
    series that are mostly zeros, where every method in the reference's
    registry (R:6-7) degenerates (SES/ARIMA forecast the zero-inflated
    mean; SNAIVE repeats noise).  Demand: daily event counts for a
    sparse deterministic user slice (user_id % 101 == 7) per event
    type.

    Croston splits the series into the nonzero demand SIZES z_i and the
    INTER-DEMAND intervals p_i, runs simple exponential smoothing over
    each, and forecasts the constant rate z_hat / p_hat (SBA multiplies
    by 1 - alpha/2).  The SES recursion l_k = a*y_k + (1-a)*l_{k-1} is
    not SQL-expressible in general — but with alpha = 1/2 the unrolled
    form scaled by 2^(k-1) is

        l_k * 2^(k-1)  =  y_1 + sum_{j=2..k} 2^(j-2) * y_j,

    an exact BIGINT (sizes and intervals are integers), and the scale
    factor CANCELS in the Croston ratio — so the forecast is a single
    IEEE division of two exact integers, identical on any engine.  The
    last _CR_CAP demands bound the weight at 2^22 (no BIGINT overflow
    at any series length; dropped terms are below the rounding grid).

    Scale shape: one filtered aggregate (map-side combine), one
    per-series window pass, one per-series aggregate — the same
    per-series cost envelope as the closed-form forecasters; nothing
    quadratic, no driver collect."""
    from pyspark.sql.window import Window
    ev = load_table(spark, sf_dir, "events")
    d0 = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    dem = (ev.where(F.col("user_id") % _CR_MOD == _CR_RES)
           .groupBy(F.col("event_type").alias("name"),
                    F.to_date("ts").alias("d"))
           .agg(F.count(F.lit(1)).alias("z"))
           .crossJoin(F.broadcast(d0))
           .select("name", F.datediff("d", "d0").alias("t"), "z"))
    w = Window.partitionBy("name").orderBy("t")
    seq = (dem
           .withColumn("i", F.row_number().over(w))
           .withColumn("m", F.count(F.lit(1)).over(
               Window.partitionBy("name")))
           # interval before demand i; the first interval counts from
           # the calendar start (position -1), the Croston convention
           .withColumn("p", F.col("t")
                       - F.coalesce(F.lag("t").over(w), F.lit(-1))))
    kept = (seq
            .withColumn("k", F.least(F.col("m"), F.lit(_CR_CAP)))
            .withColumn("j", F.col("i") - (F.col("m") - F.col("k")))
            .where(F.col("j") >= 1))
    wgt = F.pow(F.lit(2.0),
                F.greatest(F.col("j") - 2, F.lit(0)).cast("double")
                ).cast("long")
    agg = (kept.groupBy("name")
           .agg(F.max("m").alias("m_demands"),
                F.max("k").alias("k_used"),
                F.sum(F.col("z") * wgt).alias("numz"),
                F.sum(F.col("p") * wgt).alias("nump")))
    scale = F.pow(F.lit(2.0), (F.col("k_used") - 1).cast("double"))
    ratio = F.col("numz").cast("double") / F.col("nump").cast("double")
    return (agg.select(
        "name", "m_demands", "k_used",
        F.round(F.col("numz") / scale, 6).alias("z_hat"),
        F.round(F.col("nump") / scale, 6).alias("p_hat"),
        F.round(ratio, 6).alias("croston_rate"),
        F.round(ratio * F.lit(0.75), 6).alias("sba_rate"))
        .orderBy("name"))


QUERIES["forecast_croston_events"] = forecast_croston_events
ORACLES["forecast_croston_events"] = f"""
    WITH bounds AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
    dem AS (
        SELECT event_type AS name, CAST(ts AS DATE) AS d, count(*) AS z
        FROM events WHERE user_id % {_CR_MOD} = {_CR_RES} GROUP BY 1, 2
    ), seq AS (
        SELECT name, datediff('day', b.d0, d) AS t, z
        FROM dem, bounds b
    ), idx AS (
        SELECT name, t, z,
               row_number() OVER w AS i,
               count(*) OVER (PARTITION BY name) AS m,
               t - coalesce(lag(t) OVER w, -1) AS p
        FROM seq WINDOW w AS (PARTITION BY name ORDER BY t)
    ), kept AS (
        SELECT * FROM (
            SELECT *, least(m, {_CR_CAP}) AS k,
                   i - (m - least(m, {_CR_CAP})) AS j
            FROM idx)
        WHERE j >= 1
    ), agg AS (
        SELECT name, max(m) AS m_demands, max(k) AS k_used,
               sum(z * CAST(pow(2, greatest(j - 2, 0)) AS BIGINT)) AS numz,
               sum(p * CAST(pow(2, greatest(j - 2, 0)) AS BIGINT)) AS nump
        FROM kept GROUP BY 1
    )
    SELECT name, m_demands, k_used,
           round(numz / pow(2, k_used - 1), 6) AS z_hat,
           round(nump / pow(2, k_used - 1), 6) AS p_hat,
           round(CAST(numz AS DOUBLE) / CAST(nump AS DOUBLE), 6)
               AS croston_rate,
           round(CAST(numz AS DOUBLE) / CAST(nump AS DOUBLE)
                 * CAST(0.75 AS DOUBLE), 6) AS sba_rate
    FROM agg ORDER BY name
"""


_HF_H = 7            # weekly horizon: forecast date = max_date + h
_HF_U = 1_000_000    # micro-unit grid (values are 6dp-rounded upstream)


def hierarchical_forecast_coherence(spark: SparkSession, sf_dir: str
                                    ) -> DataFrame:
    """Hierarchical forecast reconciliation (Hyndman et al. 2011) over
    the two-level events hierarchy: leaves = per-event-type daily value
    series, top = their sum.  Forecasting each level INDEPENDENTLY
    (date-keyed SNAIVE: value one week before the forecast date) breaks
    coherence — the leaf forecasts need not add up to the total's.  This
    query emits, per (level, series, step): the direct forecast, the
    BOTTOM-UP reconciled value (total := sum of leaf forecasts) and the
    TOP-DOWN reconciled value (leaf := total forecast x its historical
    value share) — the two classic coherent alternatives a metrics
    platform reports side by side.

    Exactness: daily values snap to a 1e-6 BIGINT micro-grid at the
    aggregate, so every downstream sum (total series, bottom-up
    reconciliation, historical shares) is exact integer arithmetic; the
    only float ops are single divisions/products of exact values —
    engine-identical IEEE — and the trailing 6dp round.

    Scale shape: one leaf aggregate (map-side combine), one re-aggregate
    to the total level, a 7-row steps frame cross-joined against the
    leaf-name dimension, equi-joins back on (name, date) — the share
    table and date bounds are broadcast scalars; nothing quadratic."""
    ev = load_table(spark, sf_dir, "events")
    # r9 (guide §2.4): cut the (type × day) leaf aggregate — total /
    # shares / names / leaf_rows all reference it (and total is itself
    # read three more times), so the uncut plan re-ran the events
    # scan+aggregate 28 times for a dimension-sized output
    leaf = (ev.groupBy(F.col("event_type").alias("name"),
                       F.to_date("ts").alias("d"))
            .agg(F.round(F.round(F.sum("value"), 6) * _HF_U, 0)
                 .cast("long").alias("vu"))
            .localCheckpoint())
    total = leaf.groupBy("d").agg(F.sum("vu").alias("vu"))
    maxd = total.agg(F.max("d").alias("maxd"))
    th = total.agg(F.sum("vu").alias("th"))
    shares = (leaf.groupBy("name").agg(F.sum("vu").alias("lh"))
              .crossJoin(F.broadcast(th))
              .select("name", (F.col("lh").cast("double")
                               / F.col("th").cast("double")).alias("share")))
    steps = spark.range(1, _HF_H + 1).select(F.col("id").alias("step"))
    fd = (steps.crossJoin(F.broadcast(maxd))
          .select("step", F.date_add(F.col("maxd"),
                                     (F.col("step") - _HF_H).cast("int"))
                  .alias("src_d")))
    names = leaf.select("name").distinct()
    leaf_rows = (fd.crossJoin(names)
                 .join(leaf.withColumnRenamed("d", "src_d"),
                       ["name", "src_d"], "left")
                 .join(F.broadcast(shares), "name"))
    tot_rows = (fd.join(total.withColumnRenamed("d", "src_d")
                        .withColumnRenamed("vu", "tvu"), "src_d", "left"))
    bu = (leaf_rows.groupBy("step")
          .agg(F.sum(F.coalesce("vu", F.lit(0))).alias("bu_u")))
    u = F.lit(float(_HF_U))
    leaf_out = (leaf_rows.join(tot_rows.select("step", "tvu"), "step")
                .select(F.lit("leaf").alias("level"), "name", "step",
                        F.round(F.col("vu") / u, 6).alias("direct"),
                        F.coalesce(F.round(F.col("vu") / u, 6), F.lit(0.0))
                        .alias("reconciled_bu"),
                        F.round(F.col("tvu") / u * F.col("share"), 6)
                        .alias("reconciled_td")))
    tot_out = (tot_rows.join(bu, "step")
               .select(F.lit("total").alias("level"),
                       F.lit("__total__").alias("name"), "step",
                       F.round(F.col("tvu") / u, 6).alias("direct"),
                       F.round(F.col("bu_u") / u, 6).alias("reconciled_bu"),
                       F.round(F.col("tvu") / u, 6).alias("reconciled_td")))
    return (leaf_out.unionByName(tot_out)
            .orderBy("level", "name", "step"))


QUERIES["hierarchical_forecast_coherence"] = \
    hierarchical_forecast_coherence
ORACLES["hierarchical_forecast_coherence"] = f"""
    WITH leaf AS (
        SELECT event_type AS name, CAST(ts AS DATE) AS d,
               CAST(round(round(sum(value), 6) * {_HF_U}, 0) AS BIGINT)
                   AS vu
        FROM events GROUP BY 1, 2
    ), total AS (SELECT d, sum(vu) AS vu FROM leaf GROUP BY 1),
    maxd AS (SELECT max(d) AS maxd FROM total),
    th AS (SELECT sum(vu) AS th FROM total),
    shares AS (
        SELECT name, CAST(sum(vu) AS DOUBLE)
                     / (SELECT CAST(th AS DOUBLE) FROM th) AS share
        FROM leaf GROUP BY 1
    ),
    steps AS (SELECT CAST(h AS BIGINT) AS step
              FROM generate_series(1, {_HF_H}) g(h)),
    fd AS (SELECT step, maxd + CAST(step - {_HF_H} AS INTEGER) AS src_d
           FROM steps, maxd),
    leaf_rows AS (
        SELECT f.step, n.name, l.vu, s.share
        FROM fd f
        CROSS JOIN (SELECT DISTINCT name FROM leaf) n
        LEFT JOIN leaf l ON l.name = n.name AND l.d = f.src_d
        JOIN shares s ON s.name = n.name
    ),
    tot_rows AS (
        SELECT f.step, t.vu AS tvu
        FROM fd f LEFT JOIN total t ON t.d = f.src_d
    ),
    bu AS (SELECT step, sum(coalesce(vu, 0)) AS bu_u
           FROM leaf_rows GROUP BY 1)
    SELECT 'leaf' AS level, lr.name, lr.step,
           round(lr.vu / CAST({_HF_U} AS DOUBLE), 6) AS direct,
           coalesce(round(lr.vu / CAST({_HF_U} AS DOUBLE), 6),
                    CAST(0 AS DOUBLE)) AS reconciled_bu,
           round(tr.tvu / CAST({_HF_U} AS DOUBLE) * lr.share, 6)
               AS reconciled_td
    FROM leaf_rows lr JOIN tot_rows tr USING (step)
    UNION ALL
    SELECT 'total', '__total__', t.step,
           round(t.tvu / CAST({_HF_U} AS DOUBLE), 6),
           round(b.bu_u / CAST({_HF_U} AS DOUBLE), 6),
           round(t.tvu / CAST({_HF_U} AS DOUBLE), 6)
    FROM tot_rows t JOIN bu b USING (step)
    ORDER BY 1, 2, 3
"""


def conformal_coverage_backtest(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Empirical COVERAGE audit of the split-conformal construction
    (the validity check conformal prediction's guarantee invites):
    rebuild `conformal_snaive_intervals` one week earlier — calibrate
    on t ∈ [n−21, n−14), take SNAIVE points from the base week
    t ∈ [n−14, n−7) — and score the resulting 90% intervals on the
    ACTUAL final week t ∈ [n−7, n).  Per series: evaluated steps,
    covered count, empirical coverage vs the 0.9 target — under
    exchangeability coverage concentrates near the target; a large
    shortfall means the series violates exchangeability (drift /
    regime change) and the distribution-free guarantee does not
    transfer.

    Same cost envelope as the interval query: one window pass, one
    per-series 7-point percentile, one per-series aggregate.  The
    SNAIVE point for an eval row is its own lag-7 value (the base-week
    observation), so no explicit forecast join is needed."""
    seq = _indexed_series(spark, sf_dir)
    lo = F.col("n") - (2 * _CONF_CAL + _CONF_H)
    hi = F.col("n") - (_CONF_CAL + _CONF_H)
    calib = (seq.where((F.col("t") >= lo) & (F.col("t") < hi)
                       & F.col("lag7").isNotNull())
             .groupBy("name", "index")
             .agg(F.round(F.percentile(
                 F.abs(F.col("value") - F.col("lag7")),
                 F.lit(_CONF_ALPHA)), 6).alias("q_width")))
    ev = (seq.where(F.col("t") >= F.col("n") - _CONF_H)
          .join(calib, ["name", "index"])
          .select("name", "index", "value",
                  F.round(F.col("lag7") - F.col("q_width"), 6)
                  .alias("lower"),
                  F.round(F.col("lag7") + F.col("q_width"), 6)
                  .alias("upper")))
    covered = ((F.col("value") >= F.col("lower"))
               & (F.col("value") <= F.col("upper"))).cast("long")
    return (ev.groupBy("name", "index")
            .agg(F.count(F.lit(1)).alias("n_eval"),
                 F.sum(covered).alias("n_covered"))
            .select("name", "index", "n_eval", "n_covered",
                    F.round(F.col("n_covered").cast("double")
                            / F.col("n_eval").cast("double"), 6)
                    .alias("coverage"),
                    F.lit(float(_CONF_ALPHA)).alias("target"),
                    F.round(F.col("n_covered").cast("double")
                            / F.col("n_eval").cast("double")
                            - F.lit(float(_CONF_ALPHA)), 6)
                    .alias("coverage_gap"))
            .orderBy("name", "index"))


QUERIES["conformal_coverage_backtest"] = conformal_coverage_backtest
ORACLES["conformal_coverage_backtest"] = f"""
    WITH m AS ({_METRICS_EVENTS}),
    seq AS (
        SELECT name, index, value,
               row_number() OVER w - 1 AS t,
               count(*) OVER (PARTITION BY name, index) AS n,
               lag(value, 7) OVER w AS lag7
        FROM m
        WINDOW w AS (PARTITION BY name, index ORDER BY evaluationDate)
    ), calib AS (
        SELECT name, index,
               round(quantile_cont(abs(value - lag7),
                                   {_CONF_ALPHA}), 6) AS q_width
        FROM seq
        WHERE t >= n - {2 * _CONF_CAL + _CONF_H}
          AND t < n - {_CONF_CAL + _CONF_H}
          AND lag7 IS NOT NULL
        GROUP BY 1, 2
    ), ev AS (
        SELECT s.name, s.index, s.value,
               round(s.lag7 - c.q_width, 6) AS lower,
               round(s.lag7 + c.q_width, 6) AS upper
        FROM seq s JOIN calib c USING (name, index)
        WHERE s.t >= s.n - {_CONF_H}
    )
    SELECT name, index, count(*) AS n_eval,
           CAST(sum(CASE WHEN value >= lower AND value <= upper
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
           round(CAST(sum(CASE WHEN value >= lower AND value <= upper
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) AS coverage,
           CAST({_CONF_ALPHA} AS DOUBLE) AS target,
           round(CAST(sum(CASE WHEN value >= lower AND value <= upper
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE)
                 - CAST({_CONF_ALPHA} AS DOUBLE), 6) AS coverage_gap
    FROM ev GROUP BY 1, 2 ORDER BY 1, 2
"""


_XC_MAX_LAG = 3      # lead-lag scan window: purchase series shifted ±3d
_XC_REF = "purchase"  # reference series every metric is tested against
_XC_GRID = 1_000     # milli-unit input grid (value² sums stay < 2^63)


def series_leadlag_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag CROSS-correlation of every metric series against the
    purchase series at lags −3..+3 days — the Box-Jenkins transfer-
    function identification read (`series_acf`'s two-series sibling):
    a peak at negative lag means the metric LEADS purchases (an early-
    warning signal worth a transfer term in the forecast model R:84-95
    would otherwise miss); `series_rolling_correlation` tracks
    contemporaneous co-movement only and cannot see lead-lag
    structure.  Emits per (series, lag): pair count, correlation, and
    the per-series best-lag flag (argmax |corr|, rounded values so the
    flag is engine-stable).

    Exactness: both series snap to a 1e-3 BIGINT grid (values are
    O(1e4), so squared-sum magnitudes stay far below 2^63 — the
    micro-grid would overflow), making every correlation input an
    exact integer sum; the closed form is a fixed-shape division
    chain rounded 6dp.

    Scale: one date-keyed equi-join per lag fan-out (the lag offset
    folds into the join key — no cross product), aggregates keyed by
    (series, lag); the reference series is broadcast-sized after its
    own daily aggregate."""
    from pyspark.sql.window import Window
    metrics = _metrics(spark, sf_dir)
    gu = lambda c: F.round(F.round(c, 6) * _XC_GRID, 0).cast("long")  # noqa: E731
    base = metrics.select("name", "index", "evaluationDate",
                          gu(F.col("value")).alias("xu"))
    ref = (metrics.where(F.col("name") == _XC_REF)
           .select(F.col("evaluationDate").alias("ref_date"),
                   gu(F.col("value")).alias("yu")))
    lags = spark.range(-_XC_MAX_LAG, _XC_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag"))
    fan = (base.crossJoin(F.broadcast(lags))
           .withColumn("ref_date", F.date_add("evaluationDate", "lag")))
    pairs = fan.join(F.broadcast(ref), "ref_date")
    a = (pairs.groupBy("name", "index", "lag")
         .agg(F.count(F.lit(1)).alias("n_pairs"),
              F.sum("xu").alias("sx"), F.sum("yu").alias("sy"),
              F.sum(F.col("xu") * F.col("yu")).alias("sxy"),
              F.sum(F.col("xu") * F.col("xu")).alias("sxx"),
              F.sum(F.col("yu") * F.col("yu")).alias("syy")))
    n = F.col("n_pairs").cast("double")
    cov = F.col("sxy").cast("double") / n \
        - (F.col("sx").cast("double") / n) * (F.col("sy").cast("double") / n)
    vx = F.col("sxx").cast("double") / n \
        - (F.col("sx").cast("double") / n) * (F.col("sx").cast("double") / n)
    vy = F.col("syy").cast("double") / n \
        - (F.col("sy").cast("double") / n) * (F.col("sy").cast("double") / n)
    corr = F.round(cov / F.nullif(F.sqrt(vx * vy), F.lit(0.0)), 6)
    scored = a.select("name", "index", "lag", "n_pairs",
                      corr.alias("xcorr"))
    wbest = Window.partitionBy("name", "index").orderBy(
        F.abs(F.col("xcorr")).desc(), F.col("lag").asc())
    return (scored
            .withColumn("is_best_lag", F.row_number().over(wbest) == 1)
            .orderBy("name", "index", "lag"))


QUERIES["series_leadlag_xcorr"] = series_leadlag_xcorr
ORACLES["series_leadlag_xcorr"] = f"""
    WITH m AS ({_METRICS_EVENTS}),
    base AS (
        SELECT name, index, evaluationDate,
               CAST(round(round(value, 6) * {_XC_GRID}, 0) AS BIGINT)
                   AS xu
        FROM m
    ), ref AS (
        SELECT evaluationDate AS ref_date,
               CAST(round(round(value, 6) * {_XC_GRID}, 0) AS BIGINT)
                   AS yu
        FROM m WHERE name = '{_XC_REF}'
    ), lags AS (
        SELECT CAST(l AS INTEGER) AS lag
        FROM generate_series(-{_XC_MAX_LAG}, {_XC_MAX_LAG}) g(l)
    ), prs AS (
        SELECT b.name, b.index, lg.lag, b.xu, r.yu
        FROM base b
        CROSS JOIN lags lg
        JOIN ref r ON r.ref_date = b.evaluationDate
                          + CAST(lg.lag AS INTEGER)
    ), a AS (
        SELECT name, index, lag, count(*) AS n_pairs,
               sum(xu) AS sx, sum(yu) AS sy, sum(xu * yu) AS sxy,
               sum(xu * xu) AS sxx, sum(yu * yu) AS syy
        FROM prs GROUP BY 1, 2, 3
    ), scored AS (
        SELECT name, index, lag, n_pairs,
               round((CAST(sxy AS DOUBLE) / CAST(n_pairs AS DOUBLE)
                      - (CAST(sx AS DOUBLE) / CAST(n_pairs AS DOUBLE))
                        * (CAST(sy AS DOUBLE) / CAST(n_pairs AS DOUBLE)))
                     / nullif(sqrt(
                         (CAST(sxx AS DOUBLE) / CAST(n_pairs AS DOUBLE)
                          - (CAST(sx AS DOUBLE) / CAST(n_pairs AS DOUBLE))
                            * (CAST(sx AS DOUBLE)
                               / CAST(n_pairs AS DOUBLE)))
                         * (CAST(syy AS DOUBLE) / CAST(n_pairs AS DOUBLE)
                            - (CAST(sy AS DOUBLE)
                               / CAST(n_pairs AS DOUBLE))
                              * (CAST(sy AS DOUBLE)
                                 / CAST(n_pairs AS DOUBLE)))),
                       CAST(0 AS DOUBLE)), 6) AS xcorr
        FROM a
    )
    SELECT name, index, lag, n_pairs, xcorr,
           row_number() OVER (PARTITION BY name, index
                              ORDER BY abs(xcorr) DESC, lag ASC) = 1
               AS is_best_lag
    FROM scored ORDER BY name, index, lag
"""


_IS_ALPHA_INV = "10"   # 2/alpha for the 80% central interval (alpha=0.2)


def interval_score_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROPER-score evaluation of the SNAIVE 80% prediction intervals
    on the 7-point holdout — coverage alone is gameable (an infinite
    band covers everything), so interval quality is scored with the
    Winkler interval score (Winkler 1972; Gneiting & Raftery 2007's
    proper interval score: width + (2/α)·undershoot + (2/α)·overshoot)
    and the two pinball losses (τ = 0.1 lower / 0.9 upper — the
    quantile-regression losses the band's endpoints should minimize).
    This is the missing third leg of the forecast-eval stool: point
    accuracy (`backtest_closed_forms`), calibration
    (`conformal_coverage_backtest`), and now SHARPNESS-aware interval
    skill.

    Bands are the closed-form SNAIVE 80% intervals refit on the train
    slice only (sd of lag-7 differences over t < n−7 — no holdout
    leakage), the same construction the oracled forecast queries pin.
    Per-step scores snap to the 1e-6 BIGINT micro-grid before the
    per-series mean, so aggregation order cannot move the reported
    skill.  Cost: the holdout-backtest envelope (one window pass, one
    per-series train aggregate, one join, one aggregate)."""
    seq = _indexed_series(spark, sf_dir)
    train_sd = (seq.where((F.col("t") < F.col("n") - 7)
                          & F.col("lag7").isNotNull())
                .groupBy("name", "index")
                .agg(F.stddev_samp(F.col("value") - F.col("lag7"))
                     .alias("sd")))
    hold = (seq.where(F.col("t") >= F.col("n") - 7)
            .join(train_sd, ["name", "index"])
            .select("name", "index", "value",
                    F.round(F.col("lag7")
                            - F.lit(float(Z80)) * F.col("sd"), 6)
                    .alias("lo"),
                    F.round(F.col("lag7")
                            + F.lit(float(Z80)) * F.col("sd"), 6)
                    .alias("hi")))
    y, lo, hi = F.col("value"), F.col("lo"), F.col("hi")
    k = F.lit(float(_IS_ALPHA_INV))
    winkler = ((hi - lo) + k * F.greatest(lo - y, F.lit(0.0))
               + k * F.greatest(y - hi, F.lit(0.0)))
    pb_lo = F.greatest(F.lit(0.1) * (y - lo), F.lit(-0.9) * (y - lo))
    pb_hi = F.greatest(F.lit(0.9) * (y - hi), F.lit(-0.1) * (y - hi))
    u = lambda c: F.round(c * 1_000_000, 0).cast("long")  # noqa: E731
    scored = hold.select(
        "name", "index",
        ((y >= lo) & (y <= hi)).cast("long").alias("cov"),
        u(winkler).alias("w_u"), u(pb_lo).alias("pl_u"),
        u(pb_hi).alias("ph_u"), u(hi - lo).alias("wd_u"))
    g = (scored.groupBy("name", "index")
         .agg(F.count(F.lit(1)).alias("n_eval"),
              F.sum("cov").alias("n_cov"),
              F.sum("w_u").alias("sw"), F.sum("pl_u").alias("sl"),
              F.sum("ph_u").alias("sh"), F.sum("wd_u").alias("swd")))
    mean6 = lambda c: F.round(  # noqa: E731
        F.col(c).cast("double") / F.col("n_eval").cast("double")
        / 1_000_000, 6)
    return (g.select("name", "index", "n_eval",
                     F.round(F.col("n_cov").cast("double")
                             / F.col("n_eval").cast("double"), 6)
                     .alias("coverage80"),
                     mean6("sw").alias("mean_winkler"),
                     mean6("sl").alias("mean_pinball_lo"),
                     mean6("sh").alias("mean_pinball_hi"),
                     mean6("swd").alias("mean_width"))
            .orderBy("name", "index"))


QUERIES["interval_score_backtest"] = interval_score_backtest
ORACLES["interval_score_backtest"] = f"""
    WITH m AS ({_METRICS_EVENTS}),
    seq AS (
        SELECT name, index, value,
               row_number() OVER w - 1 AS t,
               count(*) OVER (PARTITION BY name, index) AS n,
               lag(value, 7) OVER w AS lag7
        FROM m
        WINDOW w AS (PARTITION BY name, index ORDER BY evaluationDate)
    ), train_sd AS (
        SELECT name, index, stddev_samp(value - lag7) AS sd
        FROM seq WHERE t < n - 7 AND lag7 IS NOT NULL GROUP BY 1, 2
    ), hold AS (
        SELECT s.name, s.index, s.value,
               round(s.lag7 - CAST({Z80} AS DOUBLE) * d.sd, 6) AS lo,
               round(s.lag7 + CAST({Z80} AS DOUBLE) * d.sd, 6) AS hi
        FROM seq s JOIN train_sd d USING (name, index)
        WHERE s.t >= s.n - 7
    ), scored AS (
        SELECT name, index,
               CASE WHEN value >= lo AND value <= hi
                    THEN 1 ELSE 0 END AS cov,
               CAST(round(((hi - lo)
                           + CAST({_IS_ALPHA_INV} AS DOUBLE)
                             * greatest(lo - value, CAST(0 AS DOUBLE))
                           + CAST({_IS_ALPHA_INV} AS DOUBLE)
                             * greatest(value - hi, CAST(0 AS DOUBLE)))
                          * 1000000, 0) AS BIGINT) AS w_u,
               CAST(round(greatest(CAST(0.1 AS DOUBLE) * (value - lo),
                                   CAST(-0.9 AS DOUBLE) * (value - lo))
                          * 1000000, 0) AS BIGINT) AS pl_u,
               CAST(round(greatest(CAST(0.9 AS DOUBLE) * (value - hi),
                                   CAST(-0.1 AS DOUBLE) * (value - hi))
                          * 1000000, 0) AS BIGINT) AS ph_u,
               CAST(round((hi - lo) * 1000000, 0) AS BIGINT) AS wd_u
        FROM hold
    )
    SELECT name, index, count(*) AS n_eval,
           round(CAST(sum(cov) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
               AS coverage80,
           round(CAST(sum(w_u) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 / 1000000, 6) AS mean_winkler,
           round(CAST(sum(pl_u) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 / 1000000, 6) AS mean_pinball_lo,
           round(CAST(sum(ph_u) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 / 1000000, 6) AS mean_pinball_hi,
           round(CAST(sum(wd_u) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 / 1000000, 6) AS mean_width
    FROM scored GROUP BY 1, 2 ORDER BY 1, 2
"""


_SES_CAP = 24     # SES window: weights below the 6dp grid drop out
_SES_U = 1_000_000


def forecast_ses_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple exponential smoothing (Brown 1956) at alpha = 1/2 — the
    FIFTH exactly-oracled closed-form forecaster next to MEAN / NAIVE
    / SNAIVE / DRIFT, and the first SMOOTHING method with an exact
    driver hash (the iterative ETS family is rows-only by nature; the
    alpha = 1/2 special case rides the Croston integer-scaling
    identity: micro-grid values make the scaled recursion an exact
    BIGINT sum, and the 2^(k-1) scale divides out exactly).  Point
    forecast = the smoothed level (flat, the SES definition); bands
    use the standard SES variance profile sigma^2*(1+(h-1)*alpha^2)
    (Hyndman & Athanasopoulos FPP 8.1) with the lag-1-difference sd
    standing in for the one-step-residual sd (the NAIVE proxy — an
    exact-oracle-able substitute documented here; the true residual sd
    needs the full prefix recursion, whose scaling weights overflow
    BIGINT past ~60 observations).

    Same scan/series/window cost envelope as the other closed
    forms."""
    from pyspark.sql.window import Window
    metrics = _metrics(spark, sf_dir)
    w = Window.partitionBy("name", "index").orderBy("evaluationDate")
    seq = (metrics
           .withColumn("i", F.row_number().over(w))
           .withColumn("m", F.count(F.lit(1)).over(
               Window.partitionBy("name", "index")))
           .withColumn("vu", F.round(F.round("value", 6) * _SES_U, 0)
                       .cast("long"))
           .withColumn("d", F.col("value")
                       - F.lag("value").over(w)))
    kept = (seq
            .withColumn("k", F.least(F.col("m"), F.lit(_SES_CAP)))
            .withColumn("j", F.col("i") - (F.col("m") - F.col("k"))))
    wgt = F.pow(F.lit(2.0),
                F.greatest(F.col("j") - 2, F.lit(0)).cast("double")
                ).cast("long")
    agg = (kept.groupBy("name", "index")
           .agg(F.max("k").alias("k"),
                F.sum(F.when(F.col("j") >= 1, F.col("vu") * wgt))
                .alias("num"),
                F.stddev_samp("d").alias("sd")))
    level = (F.col("num").cast("double")
             / F.pow(F.lit(2.0), (F.col("k") - 1).cast("double"))
             / _SES_U)
    steps = spark.range(1, 15).select(F.col("id").alias("step"))
    fan = agg.crossJoin(F.broadcast(steps))
    width = (F.col("sd")
             * F.sqrt(F.lit(1.0) + (F.col("step") - 1).cast("double")
                      * F.lit(0.25)))
    return (fan.select(
        "name", "index", F.lit("SES").alias("method"), "step",
        F.round(level - F.lit(float(Z80)) * width, 6).alias("lower1"),
        F.round(level - F.lit(float(Z95)) * width, 6).alias("lower2"),
        F.round(level, 6).alias("mean"),
        F.round(level + F.lit(float(Z80)) * width, 6).alias("upper1"),
        F.round(level + F.lit(float(Z95)) * width, 6).alias("upper2"))
        .orderBy("name", "index", "step"))


QUERIES["forecast_ses_events"] = forecast_ses_events
ORACLES["forecast_ses_events"] = f"""
    WITH m AS ({_METRICS_EVENTS}),
    seq AS (
        SELECT name, index, value,
               row_number() OVER w AS i,
               count(*) OVER (PARTITION BY name, index) AS m,
               CAST(round(round(value, 6) * {_SES_U}, 0) AS BIGINT)
                   AS vu,
               value - lag(value) OVER w AS d
        FROM m
        WINDOW w AS (PARTITION BY name, index ORDER BY evaluationDate)
    ), kept AS (
        SELECT *, least(m, {_SES_CAP}) AS k,
               i - (m - least(m, {_SES_CAP})) AS j
        FROM seq
    ), agg AS (
        SELECT name, index, max(k) AS k,
               sum(CASE WHEN j >= 1 THEN vu
                        * CAST(pow(2, greatest(j - 2, 0)) AS BIGINT)
                   END) AS num,
               stddev_samp(d) AS sd
        FROM kept GROUP BY 1, 2
    ), steps AS (
        SELECT CAST(h AS BIGINT) AS step
        FROM generate_series(1, 14) g(h)
    )
    SELECT a.name, a.index, 'SES' AS method, st.step,
           round(CAST(num AS DOUBLE) / pow(2, k - 1) / {_SES_U}
                 - CAST({Z80} AS DOUBLE) * sd
                   * sqrt(CAST(1 AS DOUBLE)
                          + CAST(st.step - 1 AS DOUBLE)
                            * CAST(0.25 AS DOUBLE)), 6) AS lower1,
           round(CAST(num AS DOUBLE) / pow(2, k - 1) / {_SES_U}
                 - CAST({Z95} AS DOUBLE) * sd
                   * sqrt(CAST(1 AS DOUBLE)
                          + CAST(st.step - 1 AS DOUBLE)
                            * CAST(0.25 AS DOUBLE)), 6) AS lower2,
           round(CAST(num AS DOUBLE) / pow(2, k - 1) / {_SES_U}, 6)
               AS mean,
           round(CAST(num AS DOUBLE) / pow(2, k - 1) / {_SES_U}
                 + CAST({Z80} AS DOUBLE) * sd
                   * sqrt(CAST(1 AS DOUBLE)
                          + CAST(st.step - 1 AS DOUBLE)
                            * CAST(0.25 AS DOUBLE)), 6) AS upper1,
           round(CAST(num AS DOUBLE) / pow(2, k - 1) / {_SES_U}
                 + CAST({Z95} AS DOUBLE) * sd
                   * sqrt(CAST(1 AS DOUBLE)
                          + CAST(st.step - 1 AS DOUBLE)
                            * CAST(0.25 AS DOUBLE)), 6) AS upper2
    FROM agg a CROSS JOIN steps st
    ORDER BY a.name, a.index, st.step
"""

_TS_DP = 6            # Theil-Sen output grid


def series_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series Theil-Sen robust trend (Theil 1950 / Sen 1968): the
    MEDIAN of all pairwise slopes, with the Conover intercept (median
    of y - slope*t).  Where `series_trend_ols` is the efficient-but-
    fragile least-squares read (one wild outlier day drags the slope),
    Theil-Sen has a 29% breakdown point — the trend monitor to trust
    when the series contains the very anomalies `events_mad_outliers`
    exists to find.

    Exactness: each pairwise slope is ONE IEEE division, identical on
    both engines; the median is the type-7 interpolated percentile
    (Spark `percentile` == DuckDB `quantile_cont`, the established
    pairing) over a deterministic multiset, so a 6dp round on the two
    medians is a full engine resync.  The intercept pass reuses the
    ROUNDED slope so both engines feed identical residuals.

    Scale shape: the pairwise self-join is O(n_series^2) PER SERIES,
    bounded by the source's 10k-cap (quirk 7) and in practice by the
    ~30-point metric windows; the join is equi-keyed on (name, index)
    so each series expands inside its own partition with no cross-
    series shuffle.  At true 100 TB the same plan runs on a trailing
    window (e.g. last 90 points) or switches to Siegel's repeated
    median on a per-series sample — the knob is the window, not the
    plan."""
    from pyspark.sql.window import Window
    metrics = _metrics(spark, sf_dir)
    w = Window.partitionBy("name", "index").orderBy("evaluationDate")
    seq = (metrics
           .withColumn("t", (F.row_number().over(w) - 1).cast("double"))
           .select("name", "index", "t",
                   F.col("value").cast("double").alias("y")))
    a = seq.select("name", "index", F.col("t").alias("ta"),
                   F.col("y").alias("ya"))
    b = seq.select("name", "index", F.col("t").alias("tb"),
                   F.col("y").alias("yb"))
    pairs = (a.join(b, ["name", "index"])
             .where(F.col("ta") < F.col("tb"))
             .select("name", "index",
                     ((F.col("yb") - F.col("ya"))
                      / (F.col("tb") - F.col("ta"))).alias("slope")))
    med = (pairs.groupBy("name", "index")
           .agg(F.count(F.lit(1)).alias("n_pairs"),
                F.round(F.expr("percentile(slope, 0.5)"), _TS_DP)
                .alias("ts_slope")))
    resid = (seq.join(med, ["name", "index"])
             .select("name", "index",
                     (F.col("y") - F.col("ts_slope") * F.col("t"))
                     .alias("r")))
    icept = (resid.groupBy("name", "index")
             .agg(F.count(F.lit(1)).alias("n_points"),
                  F.round(F.expr("percentile(r, 0.5)"), 6)
                  .alias("ts_intercept")))
    return (med.join(icept, ["name", "index"])
            .select("name", "index", "n_points", "n_pairs",
                    "ts_slope", "ts_intercept")
            .orderBy("name", "index"))


QUERIES["series_theilsen_trend"] = series_theilsen_trend
ORACLES["series_theilsen_trend"] = f"""
    WITH m AS ({_METRICS_EVENTS}),
    seq AS (
        SELECT name, index,
               CAST(row_number() OVER (PARTITION BY name, index
                                       ORDER BY evaluationDate) - 1
                    AS DOUBLE) AS t,
               CAST(value AS DOUBLE) AS y
        FROM m
    ), prs AS (
        SELECT a.name, a.index, (b.y - a.y) / (b.t - a.t) AS slope
        FROM seq a JOIN seq b
          ON a.name = b.name AND a.index = b.index AND a.t < b.t
    ), med AS (
        SELECT name, index, count(*) AS n_pairs,
               round(quantile_cont(slope, 0.5), {_TS_DP}) AS ts_slope
        FROM prs GROUP BY 1, 2
    ), resid AS (
        SELECT s.name, s.index, md.n_pairs, md.ts_slope,
               s.y - md.ts_slope * s.t AS r
        FROM seq s JOIN med md USING (name, index)
    )
    SELECT name, index, count(*) AS n_points,
           max(n_pairs) AS n_pairs, max(ts_slope) AS ts_slope,
           round(quantile_cont(r, 0.5), 6) AS ts_intercept
    FROM resid GROUP BY 1, 2 ORDER BY 1, 2
"""


_DEC_P = 7            # seasonal period (daily series, weekly season)
_DEC_U = 1_000_000    # value micro-grid (exact integer sums)
_DEC_DEV = 1_000      # deviation grid: micros -> millis for the squares


def series_decomposition_strength(spark: SparkSession, sf_dir: str
                                  ) -> DataFrame:
    """Classical additive decomposition (centered 7-point moving-average
    trend, day-of-week seasonal indexes, remainder) plus the FPP3
    trend/seasonal STRENGTH features (Hyndman & Athanasopoulos feasts:
    F_T = max(0, 1 - var(R)/var(T+R)), F_S = max(0, 1 - var(R)/var(S+R)))
    — the per-series features a forecasting pipeline reads to ROUTE
    series to methods (strong season -> SNAIVE/STL, strong trend ->
    DRIFT/ETS-trend, neither -> MEAN), upstream of the fits the
    `forecast_*` family runs.

    Exactness discipline: series values enter on the 1e-6 BIGINT
    micro-grid, so every sum (7-point trend window, per-dow seasonal
    means, centering) is exact integer arithmetic identical on both
    engines; the single double op per derived value (divide + round
    back to the grid) is one IEEE operation.  Variances use TWO-PASS
    centered sums on a 1e-3 coarser deviation grid, keeping every
    square inside exact-BIGINT range even at 100x the metric level
    (micro squares of a 3e10-level series would overflow; milli
    deviations of a +-5e3 swing are ~5e6, squares ~2.5e13).

    Scale shape: one ROWS window per series (the trend MA), two
    grouped aggregates (seasonal indexes, then the variance sums) and
    two bounded joins keyed by (name, index[, dow]) — everything
    partitions by series; no series ever leaves its partition."""
    from pyspark.sql.window import Window
    metrics = _metrics(spark, sf_dir)
    w = Window.partitionBy("name", "index").orderBy("evaluationDate")
    seq = (metrics
           .withColumn("t", F.row_number().over(w) - 1)
           .withColumn("ym", F.round(F.round("value", 6) * _DEC_U, 0)
                       .cast("long")))
    half = (_DEC_P - 1) // 2
    w7 = (Window.partitionBy("name", "index").orderBy("t")
          .rowsBetween(-half, half))
    # r9 (guide §2.4): cut the interior frame — seas_raw/seas and the
    # rows join each reference it (and their consumers double again),
    # so the uncut plan re-ran the metrics aggregate + two window
    # chains ~2^k times: 16 planned scans for a (series × days)-grain
    # frame (series_ndiffs_nsdiffs inherits the same cut via its join)
    interior = (seq
                .withColumn("s7", F.sum("ym").over(w7))
                .withColumn("c7", F.count(F.lit(1)).over(w7))
                .where(F.col("c7") == _DEC_P)
                .withColumn("tm", F.round(F.col("s7")
                                          / F.lit(float(_DEC_P)), 0)
                            .cast("long"))
                .withColumn("dm", F.col("ym") - F.col("tm"))
                .withColumn("dow", F.col("t") % _DEC_P)
                .localCheckpoint())
    seas_raw = (interior.groupBy("name", "index", "dow")
                .agg(F.round(F.sum("dm").cast("double")
                             / F.count(F.lit(1)).cast("double"), 0)
                     .cast("long").alias("sm_raw")))
    cm = (seas_raw.groupBy("name", "index")
          .agg(F.round(F.sum("sm_raw").cast("double")
                       / F.count(F.lit(1)).cast("double"), 0)
               .cast("long").alias("cm")))
    seas = (seas_raw.join(cm, ["name", "index"])
            .withColumn("sm", F.col("sm_raw") - F.col("cm")))
    rows = (interior
            .join(seas.select("name", "index", "dow", "sm"),
                  ["name", "index", "dow"])
            .select("name", "index",
                    (F.col("dm") - F.col("sm")).alias("rm"),
                    (F.col("ym") - F.col("sm")).alias("sa"),
                    "dm"))
    means = (rows.groupBy("name", "index")
             .agg(F.count(F.lit(1)).alias("n_interior"),
                  (F.sum("rm").cast("double")
                   / F.count(F.lit(1)).cast("double")).alias("m_rm"),
                  (F.sum("sa").cast("double")
                   / F.count(F.lit(1)).cast("double")).alias("m_sa"),
                  (F.sum("dm").cast("double")
                   / F.count(F.lit(1)).cast("double")).alias("m_dm")))
    dgrid = F.lit(float(_DEC_DEV))
    dev = (rows.join(means, ["name", "index"])
           .select("name", "index", "n_interior",
                   F.round((F.col("rm") - F.col("m_rm")) / dgrid, 0)
                   .cast("long").alias("dr"),
                   F.round((F.col("sa") - F.col("m_sa")) / dgrid, 0)
                   .cast("long").alias("ds"),
                   F.round((F.col("dm") - F.col("m_dm")) / dgrid, 0)
                   .cast("long").alias("dd")))
    v = (dev.groupBy("name", "index", "n_interior")
         .agg((F.sum(F.col("dr") * F.col("dr")).cast("double")
               / F.col("n_interior").cast("double")).alias("vr"),
              (F.sum(F.col("ds") * F.col("ds")).cast("double")
               / F.col("n_interior").cast("double")).alias("vs"),
              (F.sum(F.col("dd") * F.col("dd")).cast("double")
               / F.col("n_interior").cast("double")).alias("vd")))
    wpk = (Window.partitionBy("name", "index")
           .orderBy(F.col("sm").desc(), F.col("dow").asc()))
    peak = (seas.withColumn("rn", F.row_number().over(wpk))
            .where(F.col("rn") == 1)
            .select("name", "index", F.col("dow").alias("peak_dow"),
                    F.round(F.col("sm").cast("double") / _DEC_U, 6)
                    .alias("peak_seasonal")))
    one = F.lit(1.0)
    zero = F.lit(0.0)
    return (v.join(peak, ["name", "index"])
            .select("name", "index", "n_interior",
                    F.round(F.greatest(
                        zero, one - F.col("vr")
                        / F.nullif(F.col("vs"), zero)), 6)
                    .alias("trend_strength"),
                    F.round(F.greatest(
                        zero, one - F.col("vr")
                        / F.nullif(F.col("vd"), zero)), 6)
                    .alias("seasonal_strength"),
                    "peak_dow", "peak_seasonal")
            .orderBy("name", "index"))


QUERIES["series_decomposition_strength"] = series_decomposition_strength
ORACLES["series_decomposition_strength"] = f"""
    WITH m AS ({_METRICS_EVENTS}),
    seq AS (
        SELECT name, index,
               row_number() OVER (PARTITION BY name, index
                                  ORDER BY evaluationDate) - 1 AS t,
               CAST(round(round(value, 6) * {_DEC_U}, 0) AS BIGINT)
                   AS ym
        FROM m
    ), interior AS (
        SELECT name, index, t, ym,
               CAST(round(CAST(s7 AS DOUBLE)
                          / CAST({_DEC_P} AS DOUBLE), 0) AS BIGINT)
                   AS tm,
               t % {_DEC_P} AS dow
        FROM (SELECT *,
                     sum(ym) OVER w7 AS s7,
                     count(*) OVER w7 AS c7
              FROM seq
              WINDOW w7 AS (PARTITION BY name, index ORDER BY t
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
        WHERE c7 = {_DEC_P}
    ), interior2 AS (
        SELECT *, ym - tm AS dm FROM interior
    ), seas_raw AS (
        SELECT name, index, dow,
               CAST(round(CAST(sum(dm) AS DOUBLE)
                          / CAST(count(*) AS DOUBLE), 0) AS BIGINT)
                   AS sm_raw
        FROM interior2 GROUP BY 1, 2, 3
    ), cm AS (
        SELECT name, index,
               CAST(round(CAST(sum(sm_raw) AS DOUBLE)
                          / CAST(count(*) AS DOUBLE), 0) AS BIGINT)
                   AS cm
        FROM seas_raw GROUP BY 1, 2
    ), seas AS (
        SELECT s.name, s.index, s.dow, s.sm_raw - c.cm AS sm
        FROM seas_raw s JOIN cm c USING (name, index)
    ), rws AS (
        SELECT i.name, i.index,
               i.dm - s.sm AS rm, i.ym - s.sm AS sa, i.dm
        FROM interior2 i
        JOIN seas s ON i.name = s.name AND i.index = s.index
                   AND i.dow = s.dow
    ), means AS (
        SELECT name, index, count(*) AS n_interior,
               CAST(sum(rm) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m_rm,
               CAST(sum(sa) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m_sa,
               CAST(sum(dm) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m_dm
        FROM rws GROUP BY 1, 2
    ), dev AS (
        SELECT r.name, r.index, mn.n_interior,
               CAST(round((r.rm - mn.m_rm)
                          / CAST({_DEC_DEV} AS DOUBLE), 0) AS BIGINT)
                   AS dr,
               CAST(round((r.sa - mn.m_sa)
                          / CAST({_DEC_DEV} AS DOUBLE), 0) AS BIGINT)
                   AS ds,
               CAST(round((r.dm - mn.m_dm)
                          / CAST({_DEC_DEV} AS DOUBLE), 0) AS BIGINT)
                   AS dd
        FROM rws r JOIN means mn USING (name, index)
    ), v AS (
        SELECT name, index, n_interior,
               CAST(sum(dr * dr) AS DOUBLE)
                   / CAST(n_interior AS DOUBLE) AS vr,
               CAST(sum(ds * ds) AS DOUBLE)
                   / CAST(n_interior AS DOUBLE) AS vs,
               CAST(sum(dd * dd) AS DOUBLE)
                   / CAST(n_interior AS DOUBLE) AS vd
        FROM dev GROUP BY 1, 2, 3
    ), peak AS (
        SELECT name, index, dow AS peak_dow,
               round(CAST(sm AS DOUBLE) / {_DEC_U}, 6) AS peak_seasonal
        FROM (SELECT *, row_number() OVER (PARTITION BY name, index
                                           ORDER BY sm DESC, dow ASC)
                         AS rn
              FROM seas)
        WHERE rn = 1
    )
    SELECT v.name, v.index, v.n_interior,
           round(greatest(CAST(0 AS DOUBLE),
                          CAST(1 AS DOUBLE)
                          - vr / nullif(vs, CAST(0 AS DOUBLE))), 6)
               AS trend_strength,
           round(greatest(CAST(0 AS DOUBLE),
                          CAST(1 AS DOUBLE)
                          - vr / nullif(vd, CAST(0 AS DOUBLE))), 6)
               AS seasonal_strength,
           p.peak_dow, p.peak_seasonal
    FROM v JOIN peak p USING (name, index)
    ORDER BY v.name, v.index
"""


# ---------------------------------------------------------------------------
# HOLT (double exponential smoothing) — the second exactly-oracled
# smoothing method, extending the SES integer-scaling identity to the
# two-state (level, trend) recursion.

_HOLT_K = 14          # observation window (weights decay ~0.707^k)
_HOLT_U = 10_000      # 1e-4 value grid keeps Σ|w|·v inside BIGINT


def _holt_weights() -> tuple[list[tuple[int, int, int]], int, int]:
    """Exact integer Holt weights.  With alpha = beta = 1/2 the state
    recursion v_t = M v_{t-1} + c y_t has M = (1/4)[[2,2],[-1,3]] and
    c = (1/4)[2,1], so M^k c = N^k [2,1] / 4^(k+1) with INTEGER
    N = [[2,2],[-1,3]].  On the common denominator 4^K the weight of
    y_{n-k} is an exact integer pair (level, trend).  The level is
    normalized by the exact truncated weight sum S_L (coverage
    0.99476 at K=14); the trend weights are forced to sum to EXACTLY
    zero by absorbing the truncation deficit into the farthest weight
    — otherwise a constant level leaks ~0.3% of its magnitude into
    the slope (measured: bias 0.6 on a slope of 2.0 before the fix,
    0.02 after)."""
    u = (2, 1)
    w: list[list[int]] = []
    for k in range(_HOLT_K):
        w.append([k, u[0] * 4 ** (_HOLT_K - 1 - k),
                  u[1] * 4 ** (_HOLT_K - 1 - k)])
        u = (2 * u[0] + 2 * u[1], -1 * u[0] + 3 * u[1])
    s_l = sum(r[1] for r in w)
    s_b = sum(r[2] for r in w)
    w[-1][2] -= s_b
    return [tuple(r) for r in w], s_l, 4 ** _HOLT_K


_HOLT_W, _HOLT_SL, _HOLT_DEN = _holt_weights()


def forecast_holt_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend method (Holt 1957) at alpha = beta = 1/2 —
    the SECOND exactly-oracled smoothing forecaster after SES, and the
    first with a TREND state: mean(h) = level + h·trend.  The
    two-state recursion unrolls to exact integer weights on the 4^K
    common denominator (see `_holt_weights`), so both engines compute
    the identical BIGINT dot products over the last K observations —
    level and trend are each ONE IEEE division of exact integers.
    Bands use the Holt variance profile sigma²·(1 + (h−1)·(alpha² +
    alpha·beta·h + beta²·h(2h−1)/6)) (Hyndman & Athanasopoulos FPP
    7.x) with the lag-1-difference sd proxy documented on the SES
    query.

    Scale shape: the closed-form envelope — one window pass for the
    reverse index, a broadcast join against the CONSTANT K-row weight
    table, one per-series aggregate, a 14-step fan-out."""
    from pyspark.sql.window import Window
    metrics = _metrics(spark, sf_dir)
    w = Window.partitionBy("name", "index").orderBy("evaluationDate")
    seq = (metrics
           .withColumn("i", F.row_number().over(w))
           .withColumn("m", F.count(F.lit(1)).over(
               Window.partitionBy("name", "index")))
           .withColumn("vu", F.round(F.round("value", 6) * _HOLT_U, 0)
                       .cast("long"))
           .withColumn("d", F.col("value") - F.lag("value").over(w))
           .withColumn("rev", F.col("m") - F.col("i")))
    wdf = spark.createDataFrame(
        _HOLT_W, "rev INT, wl BIGINT, wb BIGINT")
    agg = (seq.join(F.broadcast(wdf), "rev")
           .groupBy("name", "index")
           .agg(F.sum(F.col("wl") * F.col("vu")).alias("sl"),
                F.sum(F.col("wb") * F.col("vu")).alias("sb")))
    sd = (seq.where(F.col("d").isNotNull())
          .groupBy("name", "index")
          .agg(F.stddev_samp("d").alias("sd")))
    level = (F.col("sl").cast("double") / F.lit(float(_HOLT_SL))
             / _HOLT_U)
    trend = (F.col("sb").cast("double") / F.lit(float(_HOLT_DEN))
             / _HOLT_U)
    steps = spark.range(1, 15).select(F.col("id").alias("step"))
    fan = (agg.join(sd, ["name", "index"])
           .crossJoin(F.broadcast(steps)))
    h = F.col("step").cast("double")
    vh = (F.lit(1.0) + (h - 1)
          * (F.lit(0.25) + F.lit(0.25) * h
             + F.lit(0.25) * h * (2 * h - 1) / F.lit(6.0)))
    width = F.col("sd") * F.sqrt(vh)
    mean = level + h * trend
    return (fan.select(
        "name", "index", F.lit("HOLT").alias("method"), "step",
        F.round(mean - F.lit(float(Z80)) * width, 6).alias("lower1"),
        F.round(mean - F.lit(float(Z95)) * width, 6).alias("lower2"),
        F.round(mean, 6).alias("mean"),
        F.round(mean + F.lit(float(Z80)) * width, 6).alias("upper1"),
        F.round(mean + F.lit(float(Z95)) * width, 6).alias("upper2"))
        .orderBy("name", "index", "step"))


_HOLT_VALUES = ", ".join(f"({k}, {wl}, {wb})" for k, wl, wb in _HOLT_W)

QUERIES["forecast_holt_events"] = forecast_holt_events
ORACLES["forecast_holt_events"] = f"""
    WITH m AS ({_METRICS_EVENTS}),
    seq AS (
        SELECT name, index, value,
               row_number() OVER w AS i,
               count(*) OVER (PARTITION BY name, index) AS m,
               CAST(round(round(value, 6) * {_HOLT_U}, 0) AS BIGINT)
                   AS vu,
               value - lag(value) OVER w AS d,
               count(*) OVER (PARTITION BY name, index)
                   - row_number() OVER w AS rev
        FROM m
        WINDOW w AS (PARTITION BY name, index ORDER BY evaluationDate)
    ), wts (rev, wl, wb) AS (VALUES {_HOLT_VALUES}),
    agg AS (
        SELECT s.name, s.index,
               sum(w.wl * s.vu) AS sl, sum(w.wb * s.vu) AS sb
        FROM seq s JOIN wts w ON s.rev = w.rev
        GROUP BY 1, 2
    ), sds AS (
        SELECT name, index, stddev_samp(d) AS sd
        FROM seq WHERE d IS NOT NULL GROUP BY 1, 2
    ), steps AS (
        SELECT CAST(h AS BIGINT) AS step
        FROM generate_series(1, 14) g(h)
    ), fan AS (
        SELECT a.name, a.index, st.step, sds.sd,
               CAST(a.sl AS DOUBLE) / CAST({_HOLT_SL} AS DOUBLE)
                   / {_HOLT_U}
                 + CAST(st.step AS DOUBLE)
                   * (CAST(a.sb AS DOUBLE)
                      / CAST({_HOLT_DEN} AS DOUBLE) / {_HOLT_U})
                   AS mean,
               sds.sd * sqrt(CAST(1 AS DOUBLE)
                   + (CAST(st.step AS DOUBLE) - 1)
                     * (CAST(0.25 AS DOUBLE)
                        + CAST(0.25 AS DOUBLE)
                          * CAST(st.step AS DOUBLE)
                        + CAST(0.25 AS DOUBLE)
                          * CAST(st.step AS DOUBLE)
                          * (2 * CAST(st.step AS DOUBLE) - 1)
                          / CAST(6 AS DOUBLE))) AS width
        FROM agg a
        JOIN sds ON a.name = sds.name AND a.index = sds.index
        CROSS JOIN steps st
    )
    SELECT name, index, 'HOLT' AS method, step,
           round(mean - CAST({Z80} AS DOUBLE) * width, 6) AS lower1,
           round(mean - CAST({Z95} AS DOUBLE) * width, 6) AS lower2,
           round(mean, 6) AS mean,
           round(mean + CAST({Z80} AS DOUBLE) * width, 6) AS upper1,
           round(mean + CAST({Z95} AS DOUBLE) * width, 6) AS upper2
    FROM fan ORDER BY name, index, step
"""


# ---------------------------------------------------------------------------
# EWMA control chart — the SPC monitor family's smoothing member.

_EWMA_K = 20          # window: weights below the output grid drop out
_EWMA_U = 10_000      # 1e-4 value grid (the Holt grid)
_EWMA_L = 3.0         # control-limit width (the classic 3-sigma)


def events_ewma_control_chart(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """EWMA control chart (Roberts 1959) at lambda = 1/2 over every
    metric series — the drift-sensitive SPC monitor between
    `events_zscore_outliers` (memoryless, catches spikes) and
    `series_changepoint_cusum` (cumulative, catches level shifts):
    the EWMA statistic z_t = λ·x_t + (1−λ)·z_{t−1} crosses its
    variance-adjusted 3σ band on small SUSTAINED shifts a per-point
    z-score never sees.

    Exactness: the geometric weights at λ = 1/2 are exact powers of
    two on the 2^K common denominator (the SES/Holt integer-scaling
    identity applied PER ROW: each t joins the constant K-row offset
    table and takes one BIGINT dot product over its own trailing
    window, normalized by the exact partial weight sum — the
    textbook fast-start EWMA).  Band width uses the exact variance
    inflation (λ/(2−λ))·(1−(1−λ)^{2(t+1)}) around the series mean.

    Scale: the seq×offsets join fans each row out K× (a bounded
    constant), then one grouped sum keyed by (series, t) — partition-
    local; the per-series mean/sd aggregate is the monitor envelope."""
    from pyspark.sql.window import Window
    metrics = _metrics(spark, sf_dir)
    w = Window.partitionBy("name", "index").orderBy("evaluationDate")
    seq = (metrics
           .withColumn("t", (F.row_number().over(w) - 1).cast("long"))
           .withColumn("vu", F.round(F.round("value", 6) * _EWMA_U, 0)
                       .cast("long")))
    offs = spark.createDataFrame(
        [(k, 2 ** (_EWMA_K - 1 - k)) for k in range(_EWMA_K)],
        "k BIGINT, wk BIGINT")
    src = seq.select("name", "index", F.col("t").alias("ts"),
                     F.col("vu").alias("vs"))
    fan = (seq.select("name", "index", "t")
           .join(F.broadcast(offs))
           .withColumn("ts", F.col("t") - F.col("k"))
           .where(F.col("ts") >= 0)
           .join(src, ["name", "index", "ts"]))
    ew = (fan.groupBy("name", "index", "t")
          .agg(F.sum(F.col("wk") * F.col("vs")).alias("num"),
               F.sum("wk").alias("den")))
    stats = (seq.groupBy("name", "index")
             .agg((F.sum("vu").cast("double")
                   / F.count(F.lit(1)).cast("double") / _EWMA_U)
                  .alias("mu"),
                  F.stddev_samp(F.col("vu").cast("double") / _EWMA_U)
                  .alias("sd")))
    ewma = (F.col("num").cast("double") / F.col("den").cast("double")
            / _EWMA_U)
    infl = F.sqrt((F.lit(1.0) / F.lit(3.0))
                  * (F.lit(1.0)
                     - F.pow(F.lit(0.25),
                             (F.col("t") + 1).cast("double"))))
    half = F.lit(_EWMA_L) * F.col("sd") * infl
    return (ew.join(stats, ["name", "index"])
            .select("name", "index", "t",
                    F.round(ewma, 6).alias("ewma"),
                    F.round(F.col("mu") - half, 6).alias("lcl"),
                    F.round(F.col("mu") + half, 6).alias("ucl"),
                    ((ewma < F.col("mu") - half)
                     | (ewma > F.col("mu") + half)).alias("signal"))
            .orderBy("name", "index", "t"))


_EWMA_OFFS = ", ".join(f"({k}, {2 ** (_EWMA_K - 1 - k)})"
                       for k in range(_EWMA_K))

QUERIES["events_ewma_control_chart"] = events_ewma_control_chart
ORACLES["events_ewma_control_chart"] = f"""
    WITH m AS ({_METRICS_EVENTS}),
    seq AS (
        SELECT name, index,
               CAST(row_number() OVER (PARTITION BY name, index
                                       ORDER BY evaluationDate) - 1
                    AS BIGINT) AS t,
               CAST(round(round(value, 6) * {_EWMA_U}, 0) AS BIGINT)
                   AS vu
        FROM m
    ), offs (k, wk) AS (VALUES {_EWMA_OFFS}),
    fan AS (
        SELECT s.name, s.index, s.t, o.wk, b.vu AS vs
        FROM seq s
        CROSS JOIN offs o
        JOIN seq b ON b.name = s.name AND b.index = s.index
                  AND b.t = s.t - o.k
        WHERE s.t - o.k >= 0
    ), ew AS (
        SELECT name, index, t,
               CAST(sum(wk * vs) AS BIGINT) AS num,
               CAST(sum(wk) AS BIGINT) AS den
        FROM fan GROUP BY 1, 2, 3
    ), stats AS (
        SELECT name, index,
               CAST(sum(vu) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   / {_EWMA_U} AS mu,
               stddev_samp(CAST(vu AS DOUBLE) / {_EWMA_U}) AS sd
        FROM seq GROUP BY 1, 2
    )
    SELECT e.name, e.index, e.t,
           round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                 / {_EWMA_U}, 6) AS ewma,
           round(mu - CAST({_EWMA_L} AS DOUBLE) * sd
                 * sqrt((CAST(1 AS DOUBLE) / CAST(3 AS DOUBLE))
                        * (CAST(1 AS DOUBLE)
                           - pow(CAST(0.25 AS DOUBLE),
                                 CAST(e.t + 1 AS DOUBLE)))), 6)
               AS lcl,
           round(mu + CAST({_EWMA_L} AS DOUBLE) * sd
                 * sqrt((CAST(1 AS DOUBLE) / CAST(3 AS DOUBLE))
                        * (CAST(1 AS DOUBLE)
                           - pow(CAST(0.25 AS DOUBLE),
                                 CAST(e.t + 1 AS DOUBLE)))), 6)
               AS ucl,
           (CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / {_EWMA_U})
               < mu - CAST({_EWMA_L} AS DOUBLE) * sd
                 * sqrt((CAST(1 AS DOUBLE) / CAST(3 AS DOUBLE))
                        * (CAST(1 AS DOUBLE)
                           - pow(CAST(0.25 AS DOUBLE),
                                 CAST(e.t + 1 AS DOUBLE))))
           OR (CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / {_EWMA_U})
               > mu + CAST({_EWMA_L} AS DOUBLE) * sd
                 * sqrt((CAST(1 AS DOUBLE) / CAST(3 AS DOUBLE))
                        * (CAST(1 AS DOUBLE)
                           - pow(CAST(0.25 AS DOUBLE),
                                 CAST(e.t + 1 AS DOUBLE))))
               AS signal
    FROM ew e
    JOIN stats st ON e.name = st.name AND e.index = st.index
    ORDER BY e.name, e.index, e.t
"""


# ---------------------------------------------------------------------------
# Holt-Winters additive seasonal — exact via ENGINE-NATIVE RECURSION.

_HW_M = 7           # weekly season on daily metric series
_HW_MIN_N = 15      # >= 2m+1 observations so init + >=1 smoothing step
_HW_H = 14          # the family's two-week horizon


def forecast_holtwinters_events(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Additive Holt-Winters (Winters 1960) at alpha = beta = gamma =
    1/2, season m = 7 — the THIRD exactly-oracled smoothing
    forecaster (SES → Holt → full level+trend+SEASONAL state), and
    the first computed by Spark's OWN recursive-CTE engine (Spark 4
    ``WITH RECURSIVE``): the three-state recursion is inherently
    sequential, which closed the door on the SES/Holt integer-weight
    unrolling (the seasonal state decays only per SEASON, so
    truncation never drops below the output grid on month-long
    series) — engine-native recursion runs the EXACT recursion
    instead, one level per observation, carrying (level, trend, the
    last-m seasonal ring buffer, one-step SSE) as recursion state.
    Both engines execute the same sequential arithmetic in the same
    order, so the state is bit-identical with NO resync rounding —
    the oracle pins Spark's recursion semantics under real stateful
    load (arrays in recursion state, per-level joins), not just the
    BFS toy shape.

    Contract (ours, stated): observation-indexed seasonality (gap
    days shift the ring — the `series_rolling_correlation`
    precedent); init l0 = mean(y[1..m]), b0 = (mean(y[m+1..2m]) −
    mean(y[1..m]))/m, s_i = y_i − l0, smoothing from t = m+1; only
    series with n ≥ 15 qualify.  Init means are computed on the
    1e-6-grid integer values (exact sums, engine-order-proof); the
    recursion itself is order-fixed so IEEE arithmetic is identical.
    Bands: the FPP class-1 additive-HW variance profile with the
    in-recursion one-step-residual sd.

    Scale shape: each recursion level is one hash join of the
    per-series state frontier against the next observation slice —
    the same physical work as one hand-unrolled smoothing round;
    depth = series length (bounded by the 10k cap), parallelism =
    series count, which is the applyInPandas layout WITHOUT leaving
    the JVM."""
    from pyspark.sql.window import Window
    metrics = _metrics(spark, sf_dir)
    w = Window.partitionBy("name", "index").orderBy("evaluationDate")
    seq = (metrics
           .withColumn("t", F.row_number().over(w))
           .withColumn("n", F.count(F.lit(1)).over(
               Window.partitionBy("name", "index")))
           .withColumn("vu", F.round(F.round("value", 6) * 1_000_000, 0)
                       .cast("long"))
           .where(F.col("n") >= _HW_MIN_N))
    first = (seq.where(F.col("t") <= 2 * _HW_M)
             .groupBy("name", "index")
             .agg(F.sum(F.when(F.col("t") <= _HW_M, F.col("vu")))
                  .alias("sa"),
                  F.sum(F.when(F.col("t") > _HW_M, F.col("vu")))
                  .alias("sb"),
                  F.transform(
                      F.array_sort(F.collect_list(
                          F.when(F.col("t") <= _HW_M,
                                 F.struct("t", "vu")))),
                      lambda s: s["vu"].cast("double") / 1e6)
                  .alias("ys")))
    l0 = F.col("sa").cast("double") / _HW_M / 1e6
    init = first.select(
        "name", "index", l0.alias("l"),
        ((F.col("sb") - F.col("sa")).cast("double")
         / (_HW_M * _HW_M) / 1e6).alias("b"),
        F.transform("ys", lambda y: y - l0).alias("sarr"))
    obs = seq.select("name", "index", "t",
                     (F.col("vu").cast("double") / 1e6).alias("y"))
    # r10 _REC_ARRAY_STATE (operators/product_analytics.py module
    # note): each series' observation string rides in the recursion
    # state (yarr), so the body is JOIN-FREE and every level folds to
    # a driver-evaluated LocalRelation — zero scheduled jobs per
    # observation (the old per-level join cost ~5 single-task jobs /
    # level).  init and the per-series arrays both derive from the seq
    # chain inside the single anchor job, with no eager cut before it.
    # Per-step arithmetic is unchanged — bit-identical state.
    init.createOrReplaceTempView("qr_hw_init")
    obs.createOrReplaceTempView("qr_hw_obs")
    oy = "element_at(w.yarr, CAST(w.t + 1 AS INT))"
    return spark.sql(f"""
        WITH RECURSIVE walk(name, index, t, yarr, l, b, sarr, sse) AS (
            SELECT i.name, i.index, CAST({_HW_M} AS INT) AS t,
                   y.yarr, i.l, i.b, i.sarr,
                   CAST(0 AS DOUBLE) AS sse
            FROM qr_hw_init i
            JOIN (SELECT name, index,
                         transform(array_sort(collect_list(
                             struct(t, y))), x -> x.y) AS yarr
                  FROM qr_hw_obs GROUP BY name, index) y
              ON y.name = i.name AND y.index = i.index
            UNION ALL
            SELECT w.name, w.index, w.t + 1, w.yarr,
                   0.5D * ({oy} - element_at(w.sarr, 1))
                       + 0.5D * (w.l + w.b),
                   0.5D * ((0.5D * ({oy} - element_at(w.sarr, 1))
                            + 0.5D * (w.l + w.b)) - w.l) + 0.5D * w.b,
                   concat(slice(w.sarr, 2, {_HW_M - 1}),
                          array(0.5D * ({oy} - w.l - w.b)
                                + 0.5D * element_at(w.sarr, 1))),
                   w.sse + ({oy} - (w.l + w.b + element_at(w.sarr, 1)))
                         * ({oy} - (w.l + w.b + element_at(w.sarr, 1)))
            FROM walk w WHERE w.t < size(w.yarr)
        ),
        fin AS (
            SELECT * FROM (
                SELECT w.*, row_number() OVER (PARTITION BY name, index
                            ORDER BY t DESC) AS rn
                FROM walk w)
            WHERE rn = 1
        ),
        sds AS (
            SELECT name, index, l, b, sarr,
                   sqrt(sse / CAST(t - {_HW_M + 1} AS DOUBLE)) AS sd
            FROM fin
        ),
        steps AS (SELECT explode(sequence(1, {_HW_H})) AS step),
        fan AS (
            SELECT s.name, s.index, CAST(st.step AS BIGINT) AS step,
                   s.l + CAST(st.step AS DOUBLE) * s.b
                       + element_at(s.sarr,
                           CAST((st.step - 1) % {_HW_M} + 1 AS INT))
                       AS mean,
                   s.sd * sqrt(
                       1.0D + (CAST(st.step AS DOUBLE) - 1.0D)
                            * (0.25D
                               + 0.25D * CAST(st.step AS DOUBLE)
                               + 0.25D * CAST(st.step AS DOUBLE)
                                 * (2.0D * CAST(st.step AS DOUBLE)
                                    - 1.0D) / 6.0D)
                          + 0.5D * CAST((st.step - 1) DIV {_HW_M}
                                        AS DOUBLE)
                            * (1.5D + 3.5D
                               * (CAST((st.step - 1) DIV {_HW_M}
                                       AS DOUBLE) + 1.0D))) AS width
            FROM sds s CROSS JOIN steps st
        )
        SELECT name, index, 'HOLTWINTERS' AS method, step,
               round(mean - {Z80} * width, 6) AS lower1,
               round(mean - {Z95} * width, 6) AS lower2,
               round(mean, 6) AS mean,
               round(mean + {Z80} * width, 6) AS upper1,
               round(mean + {Z95} * width, 6) AS upper2
        FROM fan
        ORDER BY name, index, step
    """)


QUERIES["forecast_holtwinters_events"] = forecast_holtwinters_events
ORACLES["forecast_holtwinters_events"] = f"""
    WITH RECURSIVE m AS ({_METRICS_EVENTS}),
    seq AS (
        SELECT name, index, value,
               row_number() OVER w AS t,
               count(*) OVER (PARTITION BY name, index) AS n,
               CAST(round(round(value, 6) * 1000000, 0) AS BIGINT) AS vu
        FROM m
        WINDOW w AS (PARTITION BY name, index ORDER BY evaluationDate)
    ), elig AS (
        SELECT * FROM seq WHERE n >= {_HW_MIN_N}
    ), init AS (
        SELECT name, index,
               CAST(sum(vu) FILTER (WHERE t <= {_HW_M}) AS DOUBLE)
                   / {_HW_M} / 1e6 AS l,
               CAST(sum(vu) FILTER (WHERE t > {_HW_M}) -
                    sum(vu) FILTER (WHERE t <= {_HW_M}) AS DOUBLE)
                   / {_HW_M * _HW_M} / 1e6 AS b,
               list_transform(
                   list(vu ORDER BY t) FILTER (WHERE t <= {_HW_M}),
                   v -> CAST(v AS DOUBLE) / 1e6
                        - CAST(sum(vu) FILTER (WHERE t <= {_HW_M})
                               AS DOUBLE) / {_HW_M} / 1e6) AS sarr
        FROM elig WHERE t <= {2 * _HW_M}
        GROUP BY 1, 2
    ), obs AS (
        SELECT name, index, t, CAST(vu AS DOUBLE) / 1e6 AS y
        FROM elig
    ), walk(name, index, t, l, b, sarr, sse) AS (
        SELECT name, index, {_HW_M} AS t, l, b, sarr,
               CAST(0 AS DOUBLE) AS sse
        FROM init
        UNION ALL
        SELECT w.name, w.index, w.t + 1,
               CAST(0.5 AS DOUBLE) * (o.y - w.sarr[1])
                   + CAST(0.5 AS DOUBLE) * (w.l + w.b),
               CAST(0.5 AS DOUBLE)
                   * ((CAST(0.5 AS DOUBLE) * (o.y - w.sarr[1])
                       + CAST(0.5 AS DOUBLE) * (w.l + w.b)) - w.l)
                   + CAST(0.5 AS DOUBLE) * w.b,
               w.sarr[2:{_HW_M}]
                   || [CAST(0.5 AS DOUBLE) * (o.y - w.l - w.b)
                       + CAST(0.5 AS DOUBLE) * w.sarr[1]],
               w.sse + (o.y - (w.l + w.b + w.sarr[1]))
                     * (o.y - (w.l + w.b + w.sarr[1]))
        FROM walk w JOIN obs o
          ON o.name = w.name AND o.index = w.index AND o.t = w.t + 1
    ), fin AS (
        SELECT * FROM (
            SELECT w.*, row_number() OVER (PARTITION BY name, index
                        ORDER BY t DESC) AS rn
            FROM walk w) s
        WHERE rn = 1
    ), sds AS (
        SELECT name, index, l, b, sarr,
               sqrt(sse / CAST(t - {_HW_M + 1} AS DOUBLE)) AS sd
        FROM fin
    ), steps AS (
        SELECT CAST(h AS BIGINT) AS step
        FROM generate_series(1, {_HW_H}) g(h)
    ), fan AS (
        SELECT s.name, s.index, st.step,
               s.l + CAST(st.step AS DOUBLE) * s.b
                   + s.sarr[CAST((st.step - 1) % {_HW_M} + 1 AS INT)]
                   AS mean,
               s.sd * sqrt(
                   CAST(1 AS DOUBLE)
                   + (CAST(st.step AS DOUBLE) - 1)
                     * (CAST(0.25 AS DOUBLE)
                        + CAST(0.25 AS DOUBLE)
                          * CAST(st.step AS DOUBLE)
                        + CAST(0.25 AS DOUBLE)
                          * CAST(st.step AS DOUBLE)
                          * (2 * CAST(st.step AS DOUBLE) - 1)
                          / CAST(6 AS DOUBLE))
                   + CAST(0.5 AS DOUBLE)
                     * CAST((st.step - 1) // {_HW_M} AS DOUBLE)
                     * (CAST(1.5 AS DOUBLE) + CAST(3.5 AS DOUBLE)
                        * (CAST((st.step - 1) // {_HW_M} AS DOUBLE)
                           + 1))) AS width
        FROM sds s CROSS JOIN steps st
    )
    SELECT name, index, 'HOLTWINTERS' AS method, step,
           round(mean - CAST({Z80} AS DOUBLE) * width, 6) AS lower1,
           round(mean - CAST({Z95} AS DOUBLE) * width, 6) AS lower2,
           round(mean, 6) AS mean,
           round(mean + CAST({Z80} AS DOUBLE) * width, 6) AS upper1,
           round(mean + CAST({Z95} AS DOUBLE) * width, 6) AS upper2
    FROM fan ORDER BY name, index, step
"""


_PH_DELTA_SD = 0.05    # drift allowance δ = 0.05·sd (Page-Hinkley slack)
_PH_LAMBDA_SD = 3.0    # alarm threshold λ = 3·sd


def series_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley SEQUENTIAL drift detector per metric series (Page
    1954 §5; the streaming-ML standard for concept drift, e.g. Gama
    et al. 2014 §3.1): m_t = Σ_{s≤t}(x_s − x̄_s − δ) with x̄_s the
    RUNNING mean, PH_t = m_t − min_{s≤t} m_s, alarm when PH_t exceeds
    λ.  Where CUSUM (`series_changepoint_cusum`) is retrospective —
    it centers on the FULL-series mean, so it locates a past shift —
    Page-Hinkley is the online form: each step sees only the prefix,
    so its alarm is the step at which a live monitor would actually
    have fired.  δ = 0.05·sd and λ = 3·sd (per series, from one
    moment aggregate).

    Declarative recurrence: the running mean, the m_t cumulative and
    its running minimum are three stacked ordered windows — the
    sequential loop vanishes into window algebra.  Per-step terms
    snap to the 1e-6 grid pre-sum and every running sum re-rounds at
    1e-6 (the CUSUM discipline — engine summation-order drift is far
    below the grid).

    One row per series: n, the max PH statistic, the date the online
    alarm would fire (first date PH > λ, else the argmax date), λ,
    and the fired flag.  Scale: one moment aggregate broadcast back
    + three per-series ordered windows — series-partitioned,
    embarrassingly parallel."""
    from pyspark.sql.window import Window

    metrics = _metrics(spark, sf_dir)
    moments = (metrics.groupBy("name", "index")
               .agg(F.stddev_pop("value").alias("sd"),
                    F.count(F.lit(1)).alias("n_points")))
    wcum = (Window.partitionBy("name", "index").orderBy("evaluationDate")
            .rowsBetween(Window.unboundedPreceding, 0))
    wseq = Window.partitionBy("name", "index").orderBy("evaluationDate")
    x6 = F.round(F.col("value"), 6)
    seq = (metrics.join(moments, ["name", "index"])
           .withColumn("t", F.row_number().over(wseq))
           .withColumn("cx", F.round(F.sum(x6).over(wcum), 6))
           .withColumn("rmean", F.round(F.col("cx") / F.col("t"), 6))
           .withColumn("delta", F.round(F.lit(_PH_DELTA_SD)
                                        * F.col("sd"), 6))
           .withColumn("term", F.round(x6 - F.col("rmean")
                                       - F.col("delta"), 6))
           .withColumn("m", F.round(F.sum("term").over(wcum), 6))
           .withColumn("minm", F.round(F.min("m").over(wcum), 6))
           .withColumn("ph", F.round(F.col("m") - F.col("minm"), 6))
           .withColumn("lam", F.round(F.lit(_PH_LAMBDA_SD)
                                      * F.col("sd"), 6)))
    fired = (seq.where(F.col("ph") > F.col("lam"))
             .groupBy("name", "index")
             .agg(F.min("evaluationDate").alias("fire_date")))
    wmax = (Window.partitionBy("name", "index")
            .orderBy(F.col("ph").desc(), F.col("evaluationDate").asc()))
    peak = (seq.withColumn("rn", F.row_number().over(wmax))
            .where(F.col("rn") == 1))
    return (peak.join(fired, ["name", "index"], "left")
            .select("name", "index", "n_points",
                    F.round("ph", 6).alias("ph_max"),
                    F.round("lam", 6).alias("lambda_thresh"),
                    F.coalesce(F.col("fire_date"),
                               F.col("evaluationDate")).alias("alarm_date"),
                    F.col("fire_date").isNotNull().alias("fired"))
            .orderBy("name", "index"))


QUERIES["series_page_hinkley"] = series_page_hinkley
ORACLES["series_page_hinkley"] = f"""
    WITH m AS ({_METRICS_EVENTS}),
    mo AS (
        SELECT name, index, stddev_pop(value) AS sd,
               CAST(count(*) AS BIGINT) AS n_points
        FROM m GROUP BY 1, 2
    ), seq0 AS (
        SELECT m.name, m.index, m.evaluationDate, mo.sd, mo.n_points,
               round(m.value, 6) AS x6,
               row_number() OVER (PARTITION BY m.name, m.index
                   ORDER BY m.evaluationDate) AS t,
               round(sum(round(m.value, 6)) OVER (
                   PARTITION BY m.name, m.index ORDER BY m.evaluationDate
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                   AS cx
        FROM m JOIN mo USING (name, index)
    ), seq1 AS (
        SELECT *,
               round(x6 - round(cx / t, 6)
                     - round({_PH_DELTA_SD} * sd, 6), 6) AS term
        FROM seq0
    ), seq2 AS (
        SELECT *,
               round(sum(term) OVER (PARTITION BY name, index
                   ORDER BY evaluationDate
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                   AS mm
        FROM seq1
    ), seq3 AS (
        SELECT *,
               round(mm - round(min(mm) OVER (PARTITION BY name, index
                   ORDER BY evaluationDate
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6),
                   6) AS ph,
               round({_PH_LAMBDA_SD} * sd, 6) AS lam
        FROM seq2
    ), fired AS (
        SELECT name, index, min(evaluationDate) AS fire_date
        FROM seq3 WHERE ph > lam GROUP BY 1, 2
    ), peak AS (
        SELECT *, row_number() OVER (PARTITION BY name, index
                   ORDER BY ph DESC, evaluationDate ASC) AS rn
        FROM seq3
    )
    SELECT p.name, p.index, p.n_points,
           round(p.ph, 6) AS ph_max,
           round(p.lam, 6) AS lambda_thresh,
           coalesce(f.fire_date, p.evaluationDate) AS alarm_date,
           f.fire_date IS NOT NULL AS fired
    FROM peak p LEFT JOIN fired f USING (name, index)
    WHERE p.rn = 1
    ORDER BY p.name, p.index
"""


def series_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-aware Kendall τ-b between every metric series and the
    ``purchase`` reference series over their aligned days (Kendall
    1945 tie correction) — the RANK companion to
    `series_rolling_correlation`: Pearson asks "do they move
    together linearly", τ asks "do they even agree on direction",
    which survives outliers and monotone rescalings, so a high-|τ|
    series is co-moving even when a spike wrecks the Pearson read.

    Exact and pairwise-bounded: the aligned spine is the ~30-day
    month, so the (i<j) day-pair self-join is n(n−1)/2 ≈ 435 rows
    per series — concordant/discordant/tie counts are INTEGER
    aggregates, the tie corrections n1 = Στ_x(τ_x−1)/2 come from
    per-value integer counts, and τ-b is one division with one sqrt.
    The purchase-vs-purchase row is kept: τ = 1 is the built-in
    sanity check.

    Scale: the metrics aggregate is the data-sized stage; the pair
    join is days²-bounded per series (a year = 66 k pairs — still
    tiny); for multi-year spines the O(n log n) merge-sort inversion
    count replaces the pair join (the `parts_skyline_frontier`
    sort-scan discipline)."""

    metrics = _metrics(spark, sf_dir)
    ref = (metrics.where(F.col("name") == "purchase")
           .select(F.col("evaluationDate").alias("day"),
                   F.col("value").alias("ry")))
    # r9 (guide §2.4): cut the aligned (series × day) frame — the pair
    # split a/b, the two tie tables and the day count each reference
    # it, so the uncut plan re-ran the metrics aggregate (events scan)
    # 20 times for a ~(series × month-days)-row frame
    ali = (metrics.join(F.broadcast(ref),
                        metrics.evaluationDate == ref.day)
           .select("name", "evaluationDate",
                   F.col("value").alias("x"), F.col("ry").alias("y"))
           .localCheckpoint())
    a = ali.select("name", F.col("evaluationDate").alias("d1"),
                   F.col("x").alias("x1"), F.col("y").alias("y1"))
    b = ali.select("name", F.col("evaluationDate").alias("d2"),
                   F.col("x").alias("x2"), F.col("y").alias("y2"))
    sgn = (F.signum(F.col("x1") - F.col("x2"))
           * F.signum(F.col("y1") - F.col("y2")))
    pairs = (a.join(b, "name").where(F.col("d1") < F.col("d2"))
             .select("name", sgn.alias("s")))
    cd = (pairs.groupBy("name")
          .agg(F.count(F.when(F.col("s") > 0, 1)).alias("concordant"),
               F.count(F.when(F.col("s") < 0, 1)).alias("discordant"),
               F.count(F.lit(1)).alias("n0")))
    tx = (ali.groupBy("name", "x")
          .agg(F.count(F.lit(1)).alias("c"))
          .groupBy("name")
          .agg((F.sum(F.col("c") * (F.col("c") - 1)) / 2)
               .cast("bigint").alias("n1"),
               F.count(F.lit(1)).alias("_")))  # distinct x values
    ty = (ali.groupBy("name", "y")
          .agg(F.count(F.lit(1)).alias("c"))
          .groupBy("name")
          .agg((F.sum(F.col("c") * (F.col("c") - 1)) / 2)
               .cast("bigint").alias("n2")))
    n_days = ali.groupBy("name").agg(F.count(F.lit(1)).alias("n_days"))
    tau = ((F.col("concordant") - F.col("discordant")).cast("double")
           / F.sqrt(((F.col("n0") - F.col("n1"))
                     * (F.col("n0") - F.col("n2"))).cast("double")))
    return (cd.join(tx.select("name", "n1"), "name")
            .join(ty, "name").join(n_days, "name")
            .select("name", "n_days", "concordant", "discordant",
                    F.round(tau, 6).alias("tau_b"))
            .orderBy("name"))


QUERIES["series_kendall_tau"] = series_kendall_tau
ORACLES["series_kendall_tau"] = f"""
    WITH m AS ({_METRICS_EVENTS}),
    ref AS (
        SELECT evaluationDate AS day, value AS ry
        FROM m WHERE name = 'purchase'
    ), ali AS (
        SELECT m.name, m.evaluationDate, m.value AS x, r.ry AS y
        FROM m JOIN ref r ON m.evaluationDate = r.day
    ), pairs AS (
        SELECT a.name,
               sign(a.x - b.x) * sign(a.y - b.y) AS s
        FROM ali a JOIN ali b
          ON a.name = b.name AND a.evaluationDate < b.evaluationDate
    ), cd AS (
        SELECT name,
               CAST(count(*) FILTER (WHERE s > 0) AS BIGINT)
                   AS concordant,
               CAST(count(*) FILTER (WHERE s < 0) AS BIGINT)
                   AS discordant,
               CAST(count(*) AS BIGINT) AS n0
        FROM pairs GROUP BY name
    ), tx AS (
        SELECT name, CAST(sum(c * (c - 1)) / 2 AS BIGINT) AS n1
        FROM (SELECT name, x, CAST(count(*) AS BIGINT) AS c
              FROM ali GROUP BY name, x) GROUP BY name
    ), ty AS (
        SELECT name, CAST(sum(c * (c - 1)) / 2 AS BIGINT) AS n2
        FROM (SELECT name, y, CAST(count(*) AS BIGINT) AS c
              FROM ali GROUP BY name, y) GROUP BY name
    ), nd AS (
        SELECT name, CAST(count(*) AS BIGINT) AS n_days
        FROM ali GROUP BY name
    )
    SELECT cd.name, nd.n_days, cd.concordant, cd.discordant,
           round(CAST(cd.concordant - cd.discordant AS DOUBLE)
                 / sqrt(CAST((cd.n0 - tx.n1) * (cd.n0 - ty.n2)
                             AS DOUBLE)), 6) AS tau_b
    FROM cd JOIN tx USING (name) JOIN ty USING (name)
    JOIN nd USING (name)
    ORDER BY cd.name
"""


# MacKinnon (2010) response-surface coefficients for the 5% DF tau_c
# critical value (constant, no trend): crit = b0 + b1/T + b2/T^2
_DF_B0, _DF_B1, _DF_B2 = -2.86154, -2.8903, -4.234


def series_dickey_fuller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DICKEY-FULLER unit-root test per metric series (Dickey &
    Fuller 1979; constant-only regression, no augmentation — the
    daily series carry no strong serial correlation in their
    differences): regress Δy_t on y_{t-1} with intercept and report
    the tau statistic gamma_hat / se(gamma_hat) against the
    MacKinnon (2010) finite-sample 5% critical value — the
    STATIONARITY audit complementing the KPSS ndiffs choice inside
    the ARIMA fit (TimeSeriesFunctions R:84-95 picks d by KPSS; DF
    asks the mirrored question, unit root as the null, so the two
    tests disagreeing is itself a diagnostic).  stationary = tau <
    crit (reject the unit root).

    Exactness: values snap to the 1e-6 grid; all six regression sums
    are exact integer/128-bit aggregates of micro-units, the closed
    forms divide them once, and the critical value is a literal
    response surface both engines share — no in-engine
    distributions.

    Scale: one per-series aggregate over the lagged stream (the
    `series_trend_ols` cost shape)."""
    from pyspark.sql.window import Window
    metrics = _metrics(spark, sf_dir)
    w = Window.partitionBy("name", "index").orderBy("evaluationDate")
    vu = F.round(F.round("value", 6) * 1e6, 0).cast("long")
    seq = (metrics.withColumn("vu", vu)
           .withColumn("xprev", F.lag("vu", 1).over(w))
           .where(F.col("xprev").isNotNull())
           .select("name", "index", F.col("xprev").alias("x"),
                   (F.col("vu") - F.col("xprev")).alias("d")))
    a = (seq.groupBy("name", "index")
         .agg(F.count(F.lit(1)).alias("m"),
              F.sum("x").alias("sx"), F.sum("d").alias("sd"),
              F.sum(F.col("x").cast("decimal(38,0)") * F.col("d"))
              .alias("sxd"),
              F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
              .alias("sxx"),
              F.sum(F.col("d").cast("decimal(38,0)") * F.col("d"))
              .alias("sdd")))
    m = F.col("m").cast("double")
    sx = F.col("sx").cast("double") / 1e6
    sd = F.col("sd").cast("double") / 1e6
    sxd = F.col("sxd").cast("double") / 1e12
    sxx = F.col("sxx").cast("double") / 1e12
    sdd = F.col("sdd").cast("double") / 1e12
    den = m * sxx - sx * sx
    gam = (m * sxd - sx * sd) / den
    alpha = (sd - gam * sx) / m
    ssr = sdd - alpha * sd - gam * sxd
    s2 = ssr / (m - 2)
    se = F.sqrt(s2 * m / den)
    tau = gam / se
    crit = (F.lit(_DF_B0) + F.lit(_DF_B1) / m
            + F.lit(_DF_B2) / (m * m))
    return (a.select("name", "index",
                     F.col("m").alias("n_diffs"),
                     F.round(gam, 6).alias("gamma"),
                     F.round(tau, 6).alias("tau"),
                     F.round(crit, 6).alias("crit_5pct"),
                     (F.round(tau, 6) < F.round(crit, 6))
                     .alias("stationary"))
            .orderBy("name", "index"))


QUERIES["series_dickey_fuller"] = series_dickey_fuller
ORACLES["series_dickey_fuller"] = f"""
    WITH m AS ({_METRICS_EVENTS}),
    seq AS (
        SELECT name, index,
               lag(CAST(round(round(value, 6) * 1e6, 0) AS BIGINT))
                   OVER w AS x,
               CAST(round(round(value, 6) * 1e6, 0) AS BIGINT)
               - lag(CAST(round(round(value, 6) * 1e6, 0) AS BIGINT))
                   OVER w AS d
        FROM m
        WINDOW w AS (PARTITION BY name, index ORDER BY evaluationDate)
    ), a AS (
        SELECT name, index, CAST(count(*) AS BIGINT) AS mm,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(d) AS BIGINT) AS sd,
               CAST(sum(CAST(x AS HUGEINT) * d) AS HUGEINT) AS sxd,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT) AS sdd
        FROM seq WHERE x IS NOT NULL GROUP BY 1, 2
    )
    SELECT name, index, mm AS n_diffs,
           round((CAST(mm AS DOUBLE) * (CAST(sxd AS DOUBLE) / 1e12)
                  - (sx / 1e6) * (sd / 1e6))
                 / (CAST(mm AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e12)
                    - (sx / 1e6) * (sx / 1e6)), 6) AS gamma,
           round(((CAST(mm AS DOUBLE) * (CAST(sxd AS DOUBLE) / 1e12)
                   - (sx / 1e6) * (sd / 1e6))
                  / (CAST(mm AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e12)
                     - (sx / 1e6) * (sx / 1e6)))
                 / sqrt((((CAST(sdd AS DOUBLE) / 1e12)
                          - (((sd / 1e6)
                              - ((CAST(mm AS DOUBLE)
                                  * (CAST(sxd AS DOUBLE) / 1e12)
                                  - (sx / 1e6) * (sd / 1e6))
                                 / (CAST(mm AS DOUBLE)
                                    * (CAST(sxx AS DOUBLE) / 1e12)
                                    - (sx / 1e6) * (sx / 1e6)))
                                * (sx / 1e6)) / CAST(mm AS DOUBLE))
                            * (sd / 1e6)
                          - ((CAST(mm AS DOUBLE)
                              * (CAST(sxd AS DOUBLE) / 1e12)
                              - (sx / 1e6) * (sd / 1e6))
                             / (CAST(mm AS DOUBLE)
                                * (CAST(sxx AS DOUBLE) / 1e12)
                                - (sx / 1e6) * (sx / 1e6)))
                            * (CAST(sxd AS DOUBLE) / 1e12))
                         / (CAST(mm AS DOUBLE) - 2))
                        * CAST(mm AS DOUBLE)
                        / (CAST(mm AS DOUBLE)
                           * (CAST(sxx AS DOUBLE) / 1e12)
                           - (sx / 1e6) * (sx / 1e6))), 6) AS tau,
           round({_DF_B0} + {_DF_B1} / CAST(mm AS DOUBLE)
                 + {_DF_B2} / (CAST(mm AS DOUBLE)
                               * CAST(mm AS DOUBLE)), 6) AS crit_5pct,
           round(((CAST(mm AS DOUBLE) * (CAST(sxd AS DOUBLE) / 1e12)
                   - (sx / 1e6) * (sd / 1e6))
                  / (CAST(mm AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e12)
                     - (sx / 1e6) * (sx / 1e6)))
                 / sqrt((((CAST(sdd AS DOUBLE) / 1e12)
                          - (((sd / 1e6)
                              - ((CAST(mm AS DOUBLE)
                                  * (CAST(sxd AS DOUBLE) / 1e12)
                                  - (sx / 1e6) * (sd / 1e6))
                                 / (CAST(mm AS DOUBLE)
                                    * (CAST(sxx AS DOUBLE) / 1e12)
                                    - (sx / 1e6) * (sx / 1e6)))
                                * (sx / 1e6)) / CAST(mm AS DOUBLE))
                            * (sd / 1e6)
                          - ((CAST(mm AS DOUBLE)
                              * (CAST(sxd AS DOUBLE) / 1e12)
                              - (sx / 1e6) * (sd / 1e6))
                             / (CAST(mm AS DOUBLE)
                                * (CAST(sxx AS DOUBLE) / 1e12)
                                - (sx / 1e6) * (sx / 1e6)))
                            * (CAST(sxd AS DOUBLE) / 1e12))
                         / (CAST(mm AS DOUBLE) - 2))
                        * CAST(mm AS DOUBLE)
                        / (CAST(mm AS DOUBLE)
                           * (CAST(sxx AS DOUBLE) / 1e12)
                           - (sx / 1e6) * (sx / 1e6))), 6)
               < round({_DF_B0} + {_DF_B1} / CAST(mm AS DOUBLE)
                       + {_DF_B2} / (CAST(mm AS DOUBLE)
                                     * CAST(mm AS DOUBLE)), 6)
               AS stationary
    FROM a ORDER BY name, index
"""


_HEDGE_ETA = 1.2587042594304851   # sqrt(8 ln K / T), K=4 methods, T=7


def hedge_forecast_combination(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """ONLINE forecast combination by the HEDGE / exponential-weights
    algorithm (Littlestone & Warmuth 1994; Freund & Schapire 1997;
    Cesa-Bianchi & Lugosi 2006 ch.2) over the four closed-form
    forecasters on the 7-day holdout: each day every method's capped
    absolute-percentage loss updates its weight
    w_m ∝ exp(-eta * cumulative loss), and the combined forecast is
    the weight-averaged prediction — the SEQUENTIAL counterpart of
    the equal-weight `ensemble_closed_forms` and the CV-weighted
    HYBRID (R:321-337): no training window at all, the weights adapt
    DURING the evaluation, and the regret bound guarantees the
    combination's total loss trails the best single method by at
    most sqrt(T ln K / 2) regardless of the data.  Reported per
    series: hedge MAE, best single MAE, the realized REGRET in
    capped-loss units (must respect the bound — pinned in tests),
    and whether hedge beat the best single method in MAE.

    Determinism: losses cap at 1 and snap to 1e-9 (BIGINT prefix
    sums through the per-method window); weights snap at 1e-9; the
    4-term combination sums 1e-6-snapped w*pred micro-units —
    order-proof throughout; eta is the literal minimax rate.

    Scale: rides the shared holdout-preds frame; two windows and two
    grouped sums per series — the backtest cost shape."""
    from pyspark.sql.window import Window
    preds = _holdout_preds(spark, sf_dir).where(
        F.col("pred").isNotNull())
    loss = F.least(
        F.abs(F.col("value") - F.col("pred"))
        / F.greatest(F.abs(F.col("value")), F.lit(1e-6)), F.lit(1.0))
    lu = F.round(loss * 1e9, 0).cast("bigint")
    wprev = (Window.partitionBy("name", "index", "method")
             .orderBy("h").rowsBetween(Window.unboundedPreceding, -1))
    # r9 (guide §2.4): staged feeds the per-day combination AND the
    # per-method loss table — one series×7×4-row cut
    staged = (preds.withColumn("lu", lu)
              .withColumn("lcum_u",
                          F.coalesce(F.sum("lu").over(wprev),
                                     F.lit(0).cast("bigint")))
              .localCheckpoint())
    w = F.round(F.exp(-F.lit(_HEDGE_ETA) * F.col("lcum_u") / 1e9), 9)
    perh = (staged.withColumn("w", w)
            .groupBy("name", "index", "h")
            .agg(F.max("value").alias("value"),
                 F.sum(F.round(F.col("w") * F.col("pred") * 1e6, 0)
                       .cast("bigint")).alias("num_u"),
                 F.sum(F.round(F.col("w") * 1e9, 0).cast("bigint"))
                 .alias("den_u")))
    hpred = (F.col("num_u") / 1e6) / (F.col("den_u") / 1e9)
    hloss_u = F.round(
        F.least(F.abs(F.col("value") - hpred)
                / F.greatest(F.abs(F.col("value")), F.lit(1e-6)),
                F.lit(1.0)) * 1e9, 0).cast("bigint")
    hedge = (perh.withColumn("hl_u", hloss_u)
             .withColumn("ae", F.abs(F.col("value") - hpred))
             .groupBy("name", "index")
             .agg(F.round(F.avg("ae"), _ROUND).alias("hedge_mae"),
                  F.sum("hl_u").alias("hedge_loss_u")))
    per_m = (staged.groupBy("name", "index", "method")
             .agg(F.sum("lu").alias("ml_u"),
                  F.avg(F.abs(F.col("value") - F.col("pred")))
                  .alias("m_mae")))
    best = (per_m.groupBy("name", "index")
            .agg(F.min("ml_u").alias("best_loss_u"),
                 F.round(F.min("m_mae"), _ROUND)
                 .alias("best_single_mae")))
    return (hedge.join(best, ["name", "index"])
            .select("name", "index", "hedge_mae", "best_single_mae",
                    F.round((F.col("hedge_loss_u")
                             - F.col("best_loss_u")) / 1e9, 6)
                    .alias("regret"),
                    (F.col("hedge_mae") < F.col("best_single_mae"))
                    .alias("hedge_wins"))
            .orderBy("name", "index"))


QUERIES["hedge_forecast_combination"] = hedge_forecast_combination
ORACLES["hedge_forecast_combination"] = f"""
    WITH {_BT_PREDS_SQL},
    pn AS (SELECT * FROM preds WHERE pred IS NOT NULL),
    staged AS (
        SELECT name, index, method, h, value, pred,
               CAST(round(least(abs(value - pred)
                                / greatest(abs(value), 1e-6), 1.0)
                          * 1e9, 0) AS BIGINT) AS lu
        FROM pn
    ), cum AS (
        SELECT *, coalesce(sum(lu) OVER (
                   PARTITION BY name, index, method ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS lcum_u
        FROM staged
    ), perh AS (
        SELECT name, index, h, max(value) AS value,
               CAST(sum(CAST(round(
                   round(exp(-{_HEDGE_ETA} * lcum_u / 1e9), 9)
                   * pred * 1e6, 0) AS BIGINT)) AS BIGINT) AS num_u,
               CAST(sum(CAST(round(
                   round(exp(-{_HEDGE_ETA} * lcum_u / 1e9), 9)
                   * 1e9, 0) AS BIGINT)) AS BIGINT) AS den_u
        FROM cum GROUP BY 1, 2, 3
    ), hedge AS (
        SELECT name, index,
               round(avg(abs(value - (num_u / 1e6)
                             / (den_u / 1e9))), 6) AS hedge_mae,
               CAST(sum(CAST(round(least(
                   abs(value - (num_u / 1e6) / (den_u / 1e9))
                   / greatest(abs(value), 1e-6), 1.0) * 1e9, 0)
                   AS BIGINT)) AS BIGINT) AS hedge_loss_u
        FROM perh GROUP BY 1, 2
    ), per_m AS (
        SELECT name, index, method,
               CAST(sum(lu) AS BIGINT) AS ml_u,
               avg(abs(value - pred)) AS m_mae
        FROM staged GROUP BY 1, 2, 3
    ), best AS (
        SELECT name, index, min(ml_u) AS best_loss_u,
               round(min(m_mae), 6) AS best_single_mae
        FROM per_m GROUP BY 1, 2
    )
    SELECT h.name, h.index, h.hedge_mae, b.best_single_mae,
           round((h.hedge_loss_u - b.best_loss_u) / 1e9, 6) AS regret,
           h.hedge_mae < b.best_single_mae AS hedge_wins
    FROM hedge h JOIN best b USING (name, index)
    ORDER BY h.name, h.index
"""


def series_spearman_matrix(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Pairwise SPEARMAN rank correlation matrix across the metric
    series (Spearman 1904): rank-transform each series over its
    aligned days, then Pearson on the ranks — the monotone-
    association matrix that is immune to the outliers and level
    shifts the anomaly monitors flag (a single spike barely moves
    rank correlation but can dominate Pearson), and the pairwise
    companion to the Kendall tau-vs-reference column
    (`series_kendall_tau`).  Upper triangle + diagonal, ordered.

    Exactness: ranks are average-rank integers-or-halves (exact
    2x-integers); all five Pearson sums on ranks are exact BIGINT /
    128-bit aggregates of 2x-rank units; one division per pair.

    Scale: one rank window per series (day-grid-sized), one
    self-join on the day key bounded by |series|² pairs x days."""
    from pyspark.sql.window import Window
    metrics = _metrics(spark, sf_dir)
    # align on evaluationDate; rank within series (average ranks as
    # 2x-units so ties stay integral)
    w = Window.partitionBy("name", "index").orderBy("evaluationDate")
    vals = metrics.select("name", "index", "evaluationDate",
                          F.round(F.round("value", 6) * 1e6, 0)
                          .cast("long").alias("vu"))
    wr = Window.partitionBy("name", "index").orderBy("vu")
    ranked = (vals
              .withColumn("rmin", F.rank().over(wr))
              .withColumn("cnt", F.count(F.lit(1)).over(
                  Window.partitionBy("name", "index", "vu")))
              .select("name", "index", "evaluationDate",
                      (2 * F.col("rmin") + F.col("cnt") - 1)
                      .cast("long").alias("r2x")))
    a = ranked.select(F.col("name").alias("name_a"),
                      F.col("index").alias("index_a"),
                      "evaluationDate", F.col("r2x").alias("ra"))
    b = ranked.select(F.col("name").alias("name_b"),
                      F.col("index").alias("index_b"),
                      F.col("evaluationDate").alias("d_b"),
                      F.col("r2x").alias("rb"))
    j = (a.join(b, (F.col("evaluationDate") == F.col("d_b"))
                & (F.col("name_a") <= F.col("name_b"))
                & ((F.col("name_a") != F.col("name_b"))
                   | (F.col("index_a") <= F.col("index_b"))))
         .groupBy("name_a", "index_a", "name_b", "index_b")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("ra").alias("sa"), F.sum("rb").alias("sb"),
              F.sum(F.col("ra").cast("decimal(38,0)") * F.col("rb"))
              .alias("sab"),
              F.sum(F.col("ra").cast("decimal(38,0)") * F.col("ra"))
              .alias("saa"),
              F.sum(F.col("rb").cast("decimal(38,0)") * F.col("rb"))
              .alias("sbb")))
    n = F.col("n").cast("double")
    num = n * F.col("sab").cast("double") \
        - F.col("sa").cast("double") * F.col("sb").cast("double")
    da = n * F.col("saa").cast("double") \
        - F.col("sa").cast("double") * F.col("sa").cast("double")
    db = n * F.col("sbb").cast("double") \
        - F.col("sb").cast("double") * F.col("sb").cast("double")
    return (j.select("name_a", "name_b", "n",
                     F.round(num / F.sqrt(da * db), 6)
                     .alias("spearman_rho"))
            .orderBy("name_a", "name_b"))


QUERIES["series_spearman_matrix"] = series_spearman_matrix
ORACLES["series_spearman_matrix"] = f"""
    WITH m AS ({_METRICS_EVENTS}),
    vals AS (
        SELECT name, index, evaluationDate,
               CAST(round(round(value, 6) * 1e6, 0) AS BIGINT) AS vu
        FROM m
    ), ranked AS (
        SELECT name, index, evaluationDate,
               CAST(2 * rank() OVER (PARTITION BY name, index
                                     ORDER BY vu)
                    + count(*) OVER (PARTITION BY name, index, vu)
                    - 1 AS BIGINT) AS r2x
        FROM vals
    ), j AS (
        SELECT a.name AS name_a, a.index AS index_a,
               b.name AS name_b, b.index AS index_b,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(a.r2x) AS BIGINT) AS sa,
               CAST(sum(b.r2x) AS BIGINT) AS sb,
               CAST(sum(CAST(a.r2x AS HUGEINT) * b.r2x) AS HUGEINT)
                   AS sab,
               CAST(sum(CAST(a.r2x AS HUGEINT) * a.r2x) AS HUGEINT)
                   AS saa,
               CAST(sum(CAST(b.r2x AS HUGEINT) * b.r2x) AS HUGEINT)
                   AS sbb
        FROM ranked a
        JOIN ranked b ON a.evaluationDate = b.evaluationDate
                     AND a.name <= b.name
                     AND (a.name != b.name OR a.index <= b.index)
        GROUP BY 1, 2, 3, 4
    )
    SELECT name_a, name_b, n,
           round((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                  - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                         - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                           - CAST(sb AS DOUBLE)
                             * CAST(sb AS DOUBLE))), 6)
               AS spearman_rho
    FROM j ORDER BY name_a, name_b
"""


_RS_SIZES = (5, 10, 15)   # non-overlapping R/S window lengths


def series_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HURST exponent per metric series by rescaled-range analysis
    (Hurst 1951; Mandelbrot & Wallis 1969): split each series into
    non-overlapping windows of 5/10/15 observations, compute each
    window's R/S = (max - min of mean-adjusted cumulative sums) /
    population sd, average per size, and take the log-log slope of
    mean R/S on window length — H ~ 0.5 is memoryless, H > 0.5
    long-range persistent (trends feed themselves), H < 0.5
    anti-persistent (mean-reverting): the long-memory read that
    decides whether the ARIMA d/drift assumptions upstream are even
    the right model family, invisible to the lag-k ACF
    (`series_acf` sees short memory only).

    Determinism: values snap to the 1e-6 grid; within-window cumsums
    are exact integer micro-units, R exact integers; each window's
    R/S snaps at 1e-9 and BIGINT-averages per size; the final slope
    is closed-form OLS on 3 points with literal ln(w) x-values.

    Scale: one per-series pass per window size (windows partition by
    (series, window_id) — no overlap, no quadratic work)."""
    from pyspark.sql.window import Window
    metrics = _metrics(spark, sf_dir)
    wo = Window.partitionBy("name", "index").orderBy("evaluationDate")
    seq = (metrics
           .withColumn("t", F.row_number().over(wo) - 1)
           .withColumn("vu", F.round(F.round("value", 6) * 1e6, 0)
                       .cast("long")))
    per_size = []
    for wlen in _RS_SIZES:
        s = (seq.withColumn("wid", (F.col("t") / wlen).cast("int"))
             .withColumn("nw", F.count(F.lit(1)).over(
                 Window.partitionBy("name", "index", "wid"))))
        s = s.where(F.col("nw") == wlen)
        wwin = Window.partitionBy("name", "index", "wid")
        worder = wwin.orderBy("t")
        wcum = worder.rowsBetween(Window.unboundedPreceding, 0)
        s = (s.withColumn("mean_u",
                          F.sum("vu").over(wwin)
                          / F.lit(float(wlen)))
             .withColumn("dev", F.col("vu") - F.col("mean_u"))
             .withColumn("cum", F.sum("dev").over(wcum)))
        agg = (s.groupBy("name", "index", "wid")
               .agg((F.max("cum") - F.min("cum")).alias("r_u"),
                    F.sqrt(F.sum(F.col("dev") * F.col("dev"))
                           / F.lit(float(wlen))).alias("s_u")))
        rs = (agg.where(F.col("s_u") > 0)
              .withColumn("rs_u", F.round(F.col("r_u")
                                          / F.col("s_u") * 1e9, 0)
                          .cast("bigint"))
              .groupBy("name", "index")
              .agg(F.round(F.sum("rs_u")
                           / F.count(F.lit(1)).cast("double") / 1e9,
                           9).alias(f"rs"))
              .withColumn("w", F.lit(wlen)))
        per_size.append(rs)
    allrs = per_size[0]
    for p in per_size[1:]:
        allrs = allrs.union(p)
    x = F.log(F.col("w").cast("double"))
    y = F.log("rs")
    a = (allrs.groupBy("name", "index")
         .agg(F.count(F.lit(1)).alias("k"),
              F.sum(x).alias("sx"), F.sum(y).alias("sy"),
              F.sum(x * y).alias("sxy"), F.sum(x * x).alias("sxx"),
              F.max(F.when(F.col("w") == _RS_SIZES[0], F.col("rs")))
              .alias("rs_w0"),
              F.max(F.when(F.col("w") == _RS_SIZES[-1], F.col("rs")))
              .alias("rs_wlast")))
    k = F.col("k").cast("double")
    hurst = ((k * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (k * F.col("sxx") - F.col("sx") * F.col("sx")))
    return (a.select("name", "index",
                     F.round(F.col("rs_w0"), 6)
                     .alias(f"rs_{_RS_SIZES[0]}"),
                     F.round(F.col("rs_wlast"), 6)
                     .alias(f"rs_{_RS_SIZES[-1]}"),
                     F.round(hurst, 6).alias("hurst_h"))
            .orderBy("name", "index"))


QUERIES["series_hurst_rs"] = series_hurst_rs


def _hurst_size_sql(wlen: int) -> str:
    return f"""
        SELECT name, index, {wlen} AS w,
               round(sum(rs_u) / CAST(count(*) AS DOUBLE) / 1e9, 9)
                   AS rs
        FROM (
            SELECT name, index, wid,
                   CAST(round((max(cum) - min(cum))
                              / sqrt(sum(dev * dev) / {wlen}.0)
                              * 1e9, 0) AS BIGINT) AS rs_u
            FROM (
                SELECT name, index, wid, dev,
                       sum(dev) OVER (PARTITION BY name, index, wid
                           ORDER BY t ROWS UNBOUNDED PRECEDING)
                           AS cum
                FROM (
                    SELECT name, index, t,
                           wid, vu - avg_u AS dev
                    FROM (
                        SELECT name, index, t, vu,
                               CAST(t // {wlen} AS INT) AS wid,
                               sum(vu) OVER (PARTITION BY name, index,
                                   CAST(t // {wlen} AS INT))
                                   / {wlen}.0 AS avg_u,
                               count(*) OVER (PARTITION BY name,
                                   index, CAST(t // {wlen} AS INT))
                                   AS nw
                        FROM base
                    ) WHERE nw = {wlen}
                )
            )
            GROUP BY name, index, wid
            HAVING sum(dev * dev) > 0
        )
        GROUP BY name, index
    """


ORACLES["series_hurst_rs"] = f"""
    WITH m AS ({_METRICS_EVENTS}),
    base AS (
        SELECT name, index,
               row_number() OVER (PARTITION BY name, index
                                  ORDER BY evaluationDate) - 1 AS t,
               CAST(round(round(value, 6) * 1e6, 0) AS BIGINT) AS vu
        FROM m
    ), allrs AS (
        {" UNION ALL ".join(f"({_hurst_size_sql(w)})"
                            for w in _RS_SIZES)}
    ), a AS (
        SELECT name, index, CAST(count(*) AS BIGINT) AS k,
               sum(ln(CAST(w AS DOUBLE))) AS sx, sum(ln(rs)) AS sy,
               sum(ln(CAST(w AS DOUBLE)) * ln(rs)) AS sxy,
               sum(ln(CAST(w AS DOUBLE)) * ln(CAST(w AS DOUBLE)))
                   AS sxx,
               max(CASE WHEN w = {_RS_SIZES[0]} THEN rs END) AS rs0,
               max(CASE WHEN w = {_RS_SIZES[-1]} THEN rs END)
                   AS rslast
        FROM allrs GROUP BY 1, 2
    )
    SELECT name, index,
           round(rs0, 6) AS rs_{_RS_SIZES[0]},
           round(rslast, 6) AS rs_{_RS_SIZES[-1]},
           round((CAST(k AS DOUBLE) * sxy - sx * sy)
                 / (CAST(k AS DOUBLE) * sxx - sx * sx), 6)
               AS hurst_h
    FROM a ORDER BY name, index
"""


def series_cronbach_alpha(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """CRONBACH'S ALPHA over the metric series panel (Cronbach 1951):
    treat the k series as items measured on the same days, alpha =
    k/(k-1) · (1 - sum(var_i)/var(total)) — the internal-consistency
    read: alpha near 1 says the series co-move (one latent traffic
    factor; a composite "site activity" index is meaningful), near 0
    says they are independent signals and averaging them destroys
    information.  The classical-reliability companion to the
    Spearman matrix (pairwise) — one number for the whole panel.

    Exactness: per-day values snap to the 1e-6 grid; per-series and
    total-composite variances come from exact BIGINT/128-bit moment
    sums over the aligned day spine; alpha is one expression of
    those.

    Scale: one pivot-free pass — per-series moments plus a per-day
    total aggregate, both keyed by existing columns."""
    metrics = _metrics(spark, sf_dir)
    vals = metrics.select(
        "name", "index", "evaluationDate",
        F.round(F.round("value", 6) * 1e6, 0).cast("long").alias("vu"))
    per = (vals.groupBy("name", "index")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("vu").alias("s"),
                F.sum(F.col("vu").cast("decimal(38,0)") * F.col("vu"))
                .alias("ss")))
    nn = F.col("n").cast("double")
    var_i = ((F.col("ss").cast("double") / 1e12
              - nn * (F.col("s").cast("double") / 1e6 / nn)
              * (F.col("s").cast("double") / 1e6 / nn)) / (nn - 1))
    items = per.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(F.round(var_i * 1e6, 0).cast("bigint")).alias("sv_u"))
    tot = (vals.groupBy("evaluationDate")
           .agg(F.sum("vu").alias("tu"))
           .agg(F.count(F.lit(1)).alias("nd"),
                F.sum("tu").alias("st"),
                F.sum(F.col("tu").cast("decimal(38,0)") * F.col("tu"))
                .alias("stt")))
    nd = F.col("nd").cast("double")
    var_t = ((F.col("stt").cast("double") / 1e12
              - nd * (F.col("st").cast("double") / 1e6 / nd)
              * (F.col("st").cast("double") / 1e6 / nd)) / (nd - 1))
    k = F.col("k").cast("double")
    alpha = k / (k - 1) * (1 - (F.col("sv_u") / 1e6) / var_t)
    return (items.crossJoin(F.broadcast(tot))
            .select(F.col("k").alias("k_series"),
                    F.col("nd").alias("n_days"),
                    F.round(F.col("sv_u") / 1e6, 6)
                    .alias("sum_item_var"),
                    F.round(var_t, 6).alias("total_var"),
                    F.round(alpha, 6).alias("cronbach_alpha")))


QUERIES["series_cronbach_alpha"] = series_cronbach_alpha
ORACLES["series_cronbach_alpha"] = f"""
    WITH m AS ({_METRICS_EVENTS}),
    vals AS (
        SELECT name, index, evaluationDate,
               CAST(round(round(value, 6) * 1e6, 0) AS BIGINT) AS vu
        FROM m
    ), per AS (
        SELECT name, index, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(vu) AS BIGINT) AS s,
               CAST(sum(CAST(vu AS HUGEINT) * vu) AS HUGEINT) AS ss
        FROM vals GROUP BY 1, 2
    ), items AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(CAST(round(((CAST(ss AS DOUBLE) / 1e12
                    - n * (CAST(s AS DOUBLE) / 1e6 / n)
                      * (CAST(s AS DOUBLE) / 1e6 / n)) / (n - 1))
                    * 1e6, 0) AS BIGINT)) AS BIGINT) AS sv_u
        FROM per
    ), daily AS (
        SELECT evaluationDate, CAST(sum(vu) AS BIGINT) AS tu
        FROM vals GROUP BY 1
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS nd,
               CAST(sum(tu) AS BIGINT) AS st,
               CAST(sum(CAST(tu AS HUGEINT) * tu) AS HUGEINT) AS stt
        FROM daily
    )
    SELECT i.k AS k_series, t.nd AS n_days,
           round(i.sv_u / 1e6, 6) AS sum_item_var,
           round((CAST(t.stt AS DOUBLE) / 1e12
                  - t.nd * (CAST(t.st AS DOUBLE) / 1e6 / t.nd)
                    * (CAST(t.st AS DOUBLE) / 1e6 / t.nd))
                 / (t.nd - 1), 6) AS total_var,
           round(CAST(i.k AS DOUBLE) / (i.k - 1)
                 * (1 - (i.sv_u / 1e6)
                    / ((CAST(t.stt AS DOUBLE) / 1e12
                        - t.nd * (CAST(t.st AS DOUBLE) / 1e6 / t.nd)
                          * (CAST(t.st AS DOUBLE) / 1e6 / t.nd))
                       / (t.nd - 1))), 6) AS cronbach_alpha
    FROM items i CROSS JOIN tot t
"""


_CHI2_3DF_5PCT = 7.814727903251179   # chi2_0.95(3) literal


def friedman_method_ranks(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """FRIEDMAN rank test across the four closed-form forecasters on
    the per-series holdout MAEs (Friedman 1937; the M-competition /
    Demšar 2006 protocol for comparing methods over many datasets):
    rank the methods WITHIN each series (average ranks on ties),
    then chi²_F = 12n/(k(k+1)) Σ_j (R_j − (k+1)/2)² against the
    literal chi²(3) 5% value — "do the methods differ at all",
    asked the rank-based way that is immune to the per-series MAE
    scale differences a pooled mean would drown in.  One row per
    method with its mean rank; the statistic and verdict repeat per
    row (the `meta_analysis_nations` layout).

    Exactness: MAEs arrive 6dp-rounded from the backtest; within-
    series average ranks are exact 2x-integers; every cross-series
    reduction BIGINT-sums 2x-rank units; the statistic is one
    expression of integer sums.

    Scale: rides the shared backtest frame; one rank window per
    series + one k-row reduce."""
    from pyspark.sql.window import Window
    bt = backtest_closed_forms(spark, sf_dir).select(
        "name", "index", "method", "mae")
    wr = Window.partitionBy("name", "index").orderBy("mae")
    ranked = (bt
              .withColumn("rmin", F.rank().over(wr))
              .withColumn("cnt", F.count(F.lit(1)).over(
                  Window.partitionBy("name", "index", "mae")))
              .select("name", "index", "method",
                      (2 * F.col("rmin") + F.col("cnt") - 1)
                      .cast("long").alias("r2x")))
    # r9 (guide §2.4): per_m feeds the k-row reduce and the terms join —
    # one 4-row cut so the backtest + rank chain runs once
    per_m = (ranked.groupBy("method")
             .agg(F.count(F.lit(1)).alias("n_series"),
                  F.sum("r2x").alias("sr2x"))
             .localCheckpoint())
    k = per_m.groupBy().agg(F.count(F.lit(1)).alias("k"),
                            F.max("n_series").alias("n"))
    j = per_m.crossJoin(F.broadcast(k))
    mean_rank = F.col("sr2x") / 2.0 / F.col("n_series")
    dev = mean_rank - (F.col("k") + 1) / 2.0
    terms = j.select("method", "n_series",
                     F.round(mean_rank, 6).alias("mean_rank"),
                     F.round(dev * dev * 1e9, 0).cast("bigint")
                     .alias("du"), "k", "n")
    stat_tab = terms.groupBy("k", "n").agg(
        F.sum("du").alias("sdu"))
    kd = F.col("k").cast("double")
    stat = (12.0 * F.col("n") / (kd * (kd + 1))
            * (F.col("sdu") / 1e9))
    meta = stat_tab.select(
        F.round(stat, 6).alias("friedman_chi2"),
        F.lit(_CHI2_3DF_5PCT).alias("chi2_crit_5pct"),
        (F.round(stat, 6) > F.lit(_CHI2_3DF_5PCT))
        .alias("methods_differ"))
    return (terms.select("method", "n_series", "mean_rank")
            .crossJoin(F.broadcast(meta))
            .orderBy("method"))


QUERIES["friedman_method_ranks"] = friedman_method_ranks
ORACLES["friedman_method_ranks"] = f"""
    WITH {_BT_PREDS_SQL},
    maes AS (
        SELECT name, index, method,
               round(avg(abs(value - pred)), 6) AS mae
        FROM preds WHERE pred IS NOT NULL
        GROUP BY 1, 2, 3
    ), ranked AS (
        SELECT name, index, method,
               CAST(2 * rank() OVER (PARTITION BY name, index
                                     ORDER BY mae)
                    + count(*) OVER (PARTITION BY name, index, mae)
                    - 1 AS BIGINT) AS r2x
        FROM maes
    ), per_m AS (
        SELECT method, CAST(count(*) AS BIGINT) AS n_series,
               CAST(sum(r2x) AS BIGINT) AS sr2x
        FROM ranked GROUP BY 1
    ), kk AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(max(n_series) AS BIGINT) AS n
        FROM per_m
    ), terms AS (
        SELECT p.method, p.n_series,
               round(p.sr2x / 2.0 / p.n_series, 6) AS mean_rank,
               CAST(round((p.sr2x / 2.0 / p.n_series
                           - (x.k + 1) / 2.0)
                          * (p.sr2x / 2.0 / p.n_series
                             - (x.k + 1) / 2.0) * 1e9, 0)
                    AS BIGINT) AS du,
               x.k, x.n
        FROM per_m p CROSS JOIN kk x
    ), meta AS (
        SELECT round(12.0 * n / (CAST(k AS DOUBLE) * (k + 1))
                     * (sum(du) / 1e9), 6) AS friedman_chi2
        FROM terms GROUP BY k, n
    )
    SELECT t.method, t.n_series, t.mean_rank,
           m.friedman_chi2,
           CAST({_CHI2_3DF_5PCT} AS DOUBLE) AS chi2_crit_5pct,
           m.friedman_chi2 > {_CHI2_3DF_5PCT} AS methods_differ
    FROM terms t CROSS JOIN meta m
    ORDER BY t.method
"""


# ---------------------------------------------------------------------------
# Round-7 additions: the four missing forecast-EVALUATION surfaces around
# the reference's method registry (R:6-14) — scaled accuracy (MASE),
# method-comparison significance (Diebold-Mariano), and the two formal
# Box-Jenkins identification reads (Ljung-Box portmanteau, PACF) that sit
# next to `series_acf` exactly where the reference's auto.arima grid
# (R:84-95) consumes them.

def forecast_mase_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE — Mean Absolute Scaled Error (Hyndman & Koehler 2006, the
    M4-competition headline metric) for the four closed-form
    forecasters on the 7-point holdout: MAE scaled by the IN-SAMPLE
    seasonal-naive MAE over the training slice, so scores are
    comparable ACROSS series of different magnitudes — the number the
    plain MAE/RMSE table (`backtest_closed_forms`) cannot give, and
    the standard way a forecasting service aggregates accuracy over
    its whole series portfolio.  MASE < 1 = better than repeating
    last week.

    Exactness: mae and scale are each 6dp-rounded averages (the
    established backtest discipline); the ratio divides the two
    ROUNDED values and re-rounds, so the beats flag can never flip
    on float noise.  A zero scale (constant-weekly train) yields
    NULL MASE on both engines (nullif).

    Scale shape: rides the shared holdout-preds frame plus ONE extra
    per-series train aggregate — both keyed by the series key;
    nothing new shuffles."""
    t = _indexed_series(spark, sf_dir)
    scale = (t.where((F.col("t") < F.col("n") - 7)
                     & F.col("lag7").isNotNull())
             .groupBy("name", "index")
             .agg(F.round(F.avg(F.abs(F.col("value") - F.col("lag7"))),
                          _ROUND).alias("scale")))
    preds = _holdout_preds(spark, sf_dir)
    err = F.abs(F.col("value") - F.col("pred"))
    sc = (preds.groupBy("name", "index", "method")
          .agg(F.count(err).alias("n_scored"),
               F.round(F.avg(err), _ROUND).alias("mae")))
    mase = F.round(F.col("mae") / F.nullif(F.col("scale"), F.lit(0.0)),
                   _ROUND)
    return (sc.join(scale, ["name", "index"])
            .select("name", "index", "method", "n_scored", "mae",
                    F.col("scale").alias("snaive_insample_mae"),
                    mase.alias("mase"),
                    (mase < 1.0).alias("beats_snaive_insample"))
            .orderBy("name", "index", "method"))


QUERIES["forecast_mase_scores"] = forecast_mase_scores
ORACLES["forecast_mase_scores"] = f"""
    WITH {_BT_PREDS_SQL},
    scale AS (
        SELECT name, index,
               round(avg(abs(value - lag7)), {_ROUND}) AS scale
        FROM t WHERE t < n - 7 AND lag7 IS NOT NULL
        GROUP BY 1, 2
    ), sc AS (
        SELECT name, index, method,
               CAST(count(abs(value - pred)) AS BIGINT) AS n_scored,
               round(avg(abs(value - pred)), {_ROUND}) AS mae
        FROM preds GROUP BY 1, 2, 3
    )
    SELECT s.name, s.index, s.method, s.n_scored, s.mae,
           c.scale AS snaive_insample_mae,
           round(s.mae / nullif(c.scale, 0.0), {_ROUND}) AS mase,
           round(s.mae / nullif(c.scale, 0.0), {_ROUND}) < 1.0
               AS beats_snaive_insample
    FROM sc s JOIN scale c USING (name, index)
    ORDER BY s.name, s.index, s.method
"""


def forecast_dm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIEBOLD-MARIANO test (Diebold & Mariano 1995) of NAIVE vs
    SNAIVE on the holdout: is the accuracy difference between two
    forecasting methods statistically significant, or noise?  The
    question every "method A beat method B by 3%" table silently
    skips — and the inferential companion of `friedman_method_ranks`
    (omnibus over all methods) for the head-to-head case.

    Per series: loss differential d_t = e_NAIVE² − e_SNAIVE² over the
    holdout points where both predict, DM = d̄ / sqrt(Var(d)/h)
    against ±1.96 (the classic statistic; no HAC correction —
    documented small-sample caveat at h = 7).  Positive DM ⇒ SNAIVE
    has smaller loss.

    Exactness: d_t snaps to the 1e-6 BIGINT grid (first pass), the
    variance uses SECOND-pass centered deviations snapped at 1e-3 and
    squared through 128-bit sums (the `series_cronbach_alpha` moment
    idiom) — every aggregate is exact integer arithmetic under any
    partitioning; Var(d)=0 degenerates to NULL DM on both engines.

    Scale shape: two aggregates over the series key riding the shared
    holdout frame; nothing quadratic."""
    preds = _holdout_preds(spark, sf_dir)
    n_ = (preds.where(F.col("method") == "NAIVE")
          .select("name", "index", "h", "value",
                  F.col("pred").alias("pn")))
    s_ = (preds.where(F.col("method") == "SNAIVE")
          .select("name", "index", "h", F.col("pred").alias("ps")))
    en = F.col("value") - F.col("pn")
    es = F.col("value") - F.col("ps")
    # r9 (guide §2.4): dd feeds the first-pass aggregate AND the
    # second-pass centered join — one series×7-row cut
    dd = (n_.join(s_, ["name", "index", "h"])
          .where(F.col("pn").isNotNull() & F.col("ps").isNotNull())
          .select("name", "index",
                  F.round((en * en - es * es) * 1e6, 0).cast("bigint")
                  .alias("d6"))
          .localCheckpoint())
    a1 = (dd.groupBy("name", "index")
          .agg(F.count(F.lit(1)).alias("n_points"),
               F.sum("d6").alias("sd6")))
    dev = F.col("d6") / 1e6 - F.col("sd6") / 1e6 / F.col("n_points")
    dev3 = F.round(dev * 1e3, 0).cast("decimal(19,0)")
    a2 = (dd.join(a1, ["name", "index"])
          .select("name", "index", "n_points", "sd6",
                  (dev3 * dev3).alias("dv"))
          .groupBy("name", "index", "n_points", "sd6")
          .agg(F.sum("dv").alias("sdv")))
    nn = F.col("n_points").cast("double")
    dbar = F.col("sd6") / 1e6 / nn
    s2 = F.col("sdv").cast("double") / 1e6 / nn
    dm = F.round(dbar / F.sqrt(F.nullif(s2, F.lit(0.0)) / nn), _ROUND)
    return (a2.select(
        "name", "index", "n_points",
        F.round(dbar, _ROUND).alias("mean_loss_diff"),
        dm.alias("dm_stat"),
        F.lit(1.96).alias("z_crit_5pct"),
        (F.abs(dm) > 1.96).alias("significant"),
        F.when(dm.isNull() | (dm == 0.0), "TIE")
        .when(dm > 0.0, "SNAIVE").otherwise("NAIVE")
        .alias("lower_loss_method"))
        .orderBy("name", "index"))


QUERIES["forecast_dm_test"] = forecast_dm_test
ORACLES["forecast_dm_test"] = f"""
    WITH {_BT_PREDS_SQL},
    dd AS (
        SELECT n.name, n.index,
               CAST(round(((n.value - n.pred) * (n.value - n.pred)
                           - (n.value - s.pred) * (n.value - s.pred))
                          * 1e6, 0) AS BIGINT) AS d6
        FROM (SELECT * FROM preds WHERE method = 'NAIVE') n
        JOIN (SELECT * FROM preds WHERE method = 'SNAIVE') s
          USING (name, index, h)
        WHERE n.pred IS NOT NULL AND s.pred IS NOT NULL
    ), a1 AS (
        SELECT name, index, CAST(count(*) AS BIGINT) AS n_points,
               CAST(sum(d6) AS BIGINT) AS sd6
        FROM dd GROUP BY 1, 2
    ), a2 AS (
        SELECT d.name, d.index, a.n_points, a.sd6,
               CAST(sum(CAST(round((d.d6 / 1e6
                        - a.sd6 / 1e6 / a.n_points) * 1e3, 0)
                        AS HUGEINT)
                    * CAST(round((d.d6 / 1e6
                        - a.sd6 / 1e6 / a.n_points) * 1e3, 0)
                        AS HUGEINT)) AS HUGEINT) AS sdv
        FROM dd d JOIN a1 a USING (name, index)
        GROUP BY 1, 2, 3, 4
    ), dm AS (
        SELECT name, index, n_points,
               round(sd6 / 1e6 / CAST(n_points AS DOUBLE), {_ROUND})
                   AS mean_loss_diff,
               round((sd6 / 1e6 / CAST(n_points AS DOUBLE))
                     / sqrt(nullif(CAST(sdv AS DOUBLE) / 1e6
                                   / CAST(n_points AS DOUBLE), 0.0)
                            / CAST(n_points AS DOUBLE)), {_ROUND})
                   AS dm_stat
        FROM a2
    )
    SELECT name, index, n_points, mean_loss_diff, dm_stat,
           CAST(1.96 AS DOUBLE) AS z_crit_5pct,
           abs(dm_stat) > 1.96 AS significant,
           CASE WHEN dm_stat IS NULL OR dm_stat = 0.0 THEN 'TIE'
                WHEN dm_stat > 0.0 THEN 'SNAIVE'
                ELSE 'NAIVE' END AS lower_loss_method
    FROM dm ORDER BY name, index
"""


def series_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LJUNG-BOX portmanteau test per metric series (Ljung & Box
    1978): Q = n(n+2) Σ_{{k=1..7}} ρ̂_k²/(n−k) against the literal
    χ²(7) 5% value — the FORMAL "is this white noise" verdict that
    `series_acf`'s per-lag band eyeballs one lag at a time (the
    joint test controls the family-wise error the 7 individual
    bands do not).  This is the residual-diagnostic the Box-Jenkins
    loop runs after every ARIMA fit (R:84-95) before accepting an
    order, and the pre-fit screen that says whether a series needs a
    model at all.

    Exactness: ρ̂_k arrive 6dp-rounded exactly as `series_acf`
    computes them; each summand snaps to the 1e-9 BIGINT grid so the
    7-term sum is exact integer arithmetic; Q is then ONE fixed
    expression of that sum.  Degenerate series (zero variance)
    yield NULL Q on both engines.

    Scale: same per-series lag windows + one aggregate as the ACF —
    nothing beyond the series-key shuffle."""
    wide = _acf_wide(spark, sf_dir)
    nn = F.col("n_points").cast("double")
    terms = None
    for k in range(1, _LB_LAGS + 1):
        tk = F.round(F.col(f"r{k}") * F.col(f"r{k}")
                     / F.nullif(nn - F.lit(float(k)), F.lit(0.0))
                     * 1e9, 0).cast("bigint")
        terms = tk if terms is None else terms + tk
    q = F.round(nn * (F.col("n_points") + 2) * (terms / F.lit(1e9)),
                _ROUND)
    return (wide.select(
        "name", "index", "n_points",
        F.lit(_LB_LAGS).alias("lags"),
        q.alias("q_stat"),
        F.lit(_CHI2_7DF_5PCT).alias("chi2_crit_5pct"),
        (q > F.lit(_CHI2_7DF_5PCT)).alias("reject_white_noise"))
        .orderBy("name", "index"))


QUERIES["series_ljung_box"] = series_ljung_box
_LB_TERMS_SQL = " + ".join(
    f"CAST(round(r{k} * r{k} / nullif(CAST(n_points AS DOUBLE) - {k}.0,"
    f" 0.0) * 1e9, 0) AS BIGINT)"
    for k in range(1, _LB_LAGS + 1))
ORACLES["series_ljung_box"] = f"""
    WITH {_ACF_WIDE_SQL}
    SELECT name, index, n_points, CAST({_LB_LAGS} AS INT) AS lags,
           round(CAST(n_points AS DOUBLE) * (n_points + 2)
                 * (({_LB_TERMS_SQL}) / 1e9), {_ROUND}) AS q_stat,
           CAST({_CHI2_7DF_5PCT!r} AS DOUBLE) AS chi2_crit_5pct,
           round(CAST(n_points AS DOUBLE) * (n_points + 2)
                 * (({_LB_TERMS_SQL}) / 1e9), {_ROUND})
               > {_CHI2_7DF_5PCT!r} AS reject_white_noise
    FROM wide ORDER BY name, index
"""


def series_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTIAL autocorrelation function at lags 1..7 per metric
    series via the DURBIN-LEVINSON recursion (Durbin 1960) — the
    OTHER half of Box-Jenkins identification: the ACF reads off the
    MA order (cuts off after q), the PACF reads off the AR order
    (cuts off after p).  Together with `series_acf` this is the
    complete order-selection diagnostic pair behind the reference's
    auto.arima grid (R:84-95).

    Durbin-Levinson unrolled to depth 7: φ_kk = (ρ_k − Σ_j φ_{{k−1,j}}
    ρ_{{k−j}}) / (1 − Σ_j φ_{{k−1,j}} ρ_j), φ_kj = φ_{{k−1,j}} −
    φ_kk φ_{{k−1,k−j}}.  Exactness: the input ρ̂ are 6dp-rounded
    (identical to `series_acf`), every φ snaps to 1e-9 between
    levels, and both engines evaluate the SAME fixed expression tree
    left-to-right — the unrolled-recursion discipline of the kmeans/
    PageRank/platt operators.  A degenerate level (unit denominator
    hits 0, or NULL ρ̂ from a zero-variance series) propagates NULL
    through the remaining levels on both engines.

    Scale: the recursion depth is the constant 7 — per series this
    is 28 scalar expressions over one wide row; cost stays the ACF's
    series-key shuffle."""
    wide = _acf_wide(spark, sf_dir)
    cur = wide.withColumn("p1_1", F.round(F.col("r1"), 9))
    for k in range(2, _LB_LAGS + 1):
        num = None
        den = None
        for j in range(1, k):
            nt = F.col(f"p{k-1}_{j}") * F.col(f"r{k-j}")
            dt = F.col(f"p{k-1}_{j}") * F.col(f"r{j}")
            num = nt if num is None else num + nt
            den = dt if den is None else den + dt
        pkk = F.round((F.col(f"r{k}") - num)
                      / F.nullif(F.lit(1.0) - den, F.lit(0.0)), 9)
        cur = cur.withColumn(f"p{k}_{k}", pkk)
        for j in range(1, k):
            cur = cur.withColumn(
                f"p{k}_{j}",
                F.round(F.col(f"p{k-1}_{j}")
                        - F.col(f"p{k}_{k}") * F.col(f"p{k-1}_{k-j}"),
                        9))
    stack_args = ", ".join(f"{k}L, round(p{k}_{k}, {_ROUND})"
                           for k in range(1, _LB_LAGS + 1))
    long = cur.select(
        "name", "n_points",
        F.expr(f"stack({_LB_LAGS}, {stack_args}) AS (lag, pacf)"))
    band = F.round(F.lit(1.96)
                   / F.sqrt(F.col("n_points").cast("double")), _ROUND)
    return (long
            .withColumn("wn_band", band)
            .withColumn("significant", F.abs("pacf") > F.col("wn_band"))
            .select("name", "lag", "n_points", "pacf", "wn_band",
                    "significant")
            .orderBy("name", "lag"))


def _pacf_levels_sql() -> str:
    """Chained CTEs lv1..lv7 replaying the Durbin-Levinson unroll with
    the exact expression shapes of the Spark side."""
    ctes = ["lv1 AS (SELECT *, round(r1, 9) AS p1_1 FROM wide)"]
    prev = "lv1"
    for k in range(2, _LB_LAGS + 1):
        num = " + ".join(f"p{k-1}_{j} * r{k-j}" for j in range(1, k))
        den = " + ".join(f"p{k-1}_{j} * r{j}" for j in range(1, k))
        ctes.append(
            f"lv{k}a AS (SELECT *, round((r{k} - ({num}))"
            f" / nullif(1.0 - ({den}), 0.0), 9) AS p{k}_{k}"
            f" FROM {prev})")
        upd = ", ".join(
            f"round(p{k-1}_{j} - p{k}_{k} * p{k-1}_{k-j}, 9)"
            f" AS p{k}_{j}" for j in range(1, k))
        ctes.append(f"lv{k} AS (SELECT *, {upd} FROM lv{k}a)")
        prev = f"lv{k}"
    return ",\n    ".join(ctes)


QUERIES["series_pacf"] = series_pacf
ORACLES["series_pacf"] = f"""
    WITH {_ACF_WIDE_SQL},
    {_pacf_levels_sql()},
    long AS (
        {" UNION ALL ".join(
            f"SELECT name, CAST({k} AS BIGINT) AS lag, n_points, "
            f"round(p{k}_{k}, {_ROUND}) AS pacf FROM lv{_LB_LAGS}"
            for k in range(1, _LB_LAGS + 1))}
    )
    SELECT name, lag, n_points, pacf,
           round(1.96 / sqrt(CAST(n_points AS DOUBLE)), {_ROUND})
               AS wn_band,
           abs(pacf) > round(1.96 / sqrt(CAST(n_points AS DOUBLE)),
                             {_ROUND}) AS significant
    FROM long ORDER BY name, lag
"""


def granger_lag1_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG-1 GRANGER-causality screen (Granger 1969): does yesterday's
    value of each metric series improve the prediction of today's
    PURCHASE series beyond what yesterday's purchases already say?
    The FORMAL follow-up to `series_leadlag_xcorr`'s raw
    cross-correlation peaks — a negative-lag xcorr peak can be pure
    co-trending; the Granger read conditions on the target's own
    history, which is exactly the transfer-term admission test for
    the forecast models (R:84-95).

    Single-restriction case, so the F-test reduces to the PARTIAL
    correlation of purchase_t with metric_{t−1} controlling
    purchase_{t−1} (Granger's VAR(1) one-regressor restriction):
    r_p = (r_yx − r_yz·r_xz)/√((1−r_yz²)(1−r_xz²)), tested with the
    Fisher z statistic z = atanh(r_p)·√(n−4) against ±1.96 (the
    standard one-control partial-correlation test).

    Exactness: all three series legs snap to the 1e-3 BIGINT grid
    (the `series_leadlag_xcorr` magnitude analysis), the three
    pairwise correlations come from ONE exact-integer aggregate and
    round at 6dp, and r_p / z are fixed expressions of the rounded
    values (atanh spelled as 0.5·ln((1+r)/(1−r)) on both engines);
    |r_p| ≥ 1 and n ≤ 4 degenerate to NULL on both.

    Scale: one broadcast of the daily purchase frame (date-keyed,
    tiny after its own aggregate), one date-shifted equi-join, one
    per-series aggregate — the lead-lag plan minus the lag fan-out."""
    from pyspark.sql.window import Window
    metrics = _metrics(spark, sf_dir)
    gu = lambda c: F.round(F.round(c, 6) * _XC_GRID, 0).cast("long")  # noqa: E731
    wr = Window.partitionBy("index").orderBy("evaluationDate")
    ref = (metrics.where(F.col("name") == _XC_REF)
           .select("index", "evaluationDate", gu(F.col("value")).alias("y"))
           .withColumn("ylag", F.lag("y", 1).over(wr))
           .where(F.col("ylag").isNotNull())
           .select(F.col("evaluationDate").alias("ref_date"), "y", "ylag"))
    x = (metrics.where(F.col("name") != _XC_REF)
         .select("name", gu(F.col("value")).alias("xlag"),
                 F.date_add("evaluationDate", 1).alias("ref_date")))
    pairs = x.join(F.broadcast(ref), "ref_date")
    a = (pairs.groupBy("name")
         .agg(F.count(F.lit(1)).alias("n_points"),
              F.sum("y").alias("sy"), F.sum("ylag").alias("sz"),
              F.sum("xlag").alias("sx"),
              F.sum(F.col("y") * F.col("y")).alias("syy"),
              F.sum(F.col("ylag") * F.col("ylag")).alias("szz"),
              F.sum(F.col("xlag") * F.col("xlag")).alias("sxx"),
              F.sum(F.col("y") * F.col("xlag")).alias("syx"),
              F.sum(F.col("y") * F.col("ylag")).alias("syz"),
              F.sum(F.col("xlag") * F.col("ylag")).alias("sxz")))
    n = F.col("n_points").cast("double")

    def _corr(spq, sp, sq, spp, sqq):
        cov = (F.col(spq).cast("double") / n
               - (F.col(sp).cast("double") / n)
               * (F.col(sq).cast("double") / n))
        vp = (F.col(spp).cast("double") / n
              - (F.col(sp).cast("double") / n)
              * (F.col(sp).cast("double") / n))
        vq = (F.col(sqq).cast("double") / n
              - (F.col(sq).cast("double") / n)
              * (F.col(sq).cast("double") / n))
        return F.round(cov / F.nullif(F.sqrt(vp * vq), F.lit(0.0)), 6)

    c = a.select(
        "name", "n_points",
        _corr("syx", "sy", "sx", "syy", "sxx").alias("r_yx"),
        _corr("syz", "sy", "sz", "syy", "szz").alias("r_yz"),
        _corr("sxz", "sx", "sz", "sxx", "szz").alias("r_xz"))
    rp = F.round(
        (F.col("r_yx") - F.col("r_yz") * F.col("r_xz"))
        / F.nullif(F.sqrt((1.0 - F.col("r_yz") * F.col("r_yz"))
                          * (1.0 - F.col("r_xz") * F.col("r_xz"))),
                   F.lit(0.0)), 6)
    scored = c.withColumn("r_partial", rp)
    z = F.round(F.lit(0.5)
                * F.log((1.0 + F.col("r_partial"))
                        / (1.0 - F.col("r_partial")))
                * F.sqrt(F.col("n_points").cast("double") - 4.0), _ROUND)
    zg = F.when((F.abs(F.col("r_partial")) < 1.0)
                & (F.col("n_points") > 4), z)
    return (scored.select(
        "name", "n_points", "r_yx", "r_yz", "r_xz", "r_partial",
        zg.alias("fisher_z"),
        F.lit(1.96).alias("z_crit_5pct"),
        (F.abs(zg) > 1.96).alias("granger_causes_purchases"))
        .orderBy("name"))


QUERIES["granger_lag1_purchases"] = granger_lag1_purchases


def _corr_sql(spq: str, sp: str, sq: str, spp: str, sqq: str) -> str:
    n = "CAST(n_points AS DOUBLE)"
    return (f"round((CAST({spq} AS DOUBLE) / {n}"
            f" - (CAST({sp} AS DOUBLE) / {n})"
            f" * (CAST({sq} AS DOUBLE) / {n}))"
            f" / nullif(sqrt((CAST({spp} AS DOUBLE) / {n}"
            f" - (CAST({sp} AS DOUBLE) / {n})"
            f" * (CAST({sp} AS DOUBLE) / {n}))"
            f" * (CAST({sqq} AS DOUBLE) / {n}"
            f" - (CAST({sq} AS DOUBLE) / {n})"
            f" * (CAST({sq} AS DOUBLE) / {n}))), 0.0), 6)")


_GRANGER_Z_SQL = """round(0.5 * ln((1.0 + r_partial) / (1.0 - r_partial))
                 * sqrt(CAST(n_points AS DOUBLE) - 4.0), 6)"""

ORACLES["granger_lag1_purchases"] = f"""
    WITH m AS ({_METRICS_EVENTS}),
    ref0 AS (
        SELECT evaluationDate,
               CAST(round(round(value, 6) * {_XC_GRID}, 0) AS BIGINT)
                   AS y
        FROM m WHERE name = '{_XC_REF}'
    ), ref AS (
        SELECT evaluationDate AS ref_date, y,
               lag(y, 1) OVER (ORDER BY evaluationDate) AS ylag
        FROM ref0 QUALIFY ylag IS NOT NULL
    ), x AS (
        SELECT name,
               CAST(round(round(value, 6) * {_XC_GRID}, 0) AS BIGINT)
                   AS xlag,
               evaluationDate + 1 AS ref_date
        FROM m WHERE name != '{_XC_REF}'
    ), a AS (
        SELECT x.name, CAST(count(*) AS BIGINT) AS n_points,
               sum(r.y) AS sy, sum(r.ylag) AS sz, sum(x.xlag) AS sx,
               sum(r.y * r.y) AS syy, sum(r.ylag * r.ylag) AS szz,
               sum(x.xlag * x.xlag) AS sxx,
               sum(r.y * x.xlag) AS syx, sum(r.y * r.ylag) AS syz,
               sum(x.xlag * r.ylag) AS sxz
        FROM x JOIN ref r USING (ref_date)
        GROUP BY 1
    ), c AS (
        SELECT name, n_points,
               {_corr_sql("syx", "sy", "sx", "syy", "sxx")} AS r_yx,
               {_corr_sql("syz", "sy", "sz", "syy", "szz")} AS r_yz,
               {_corr_sql("sxz", "sx", "sz", "sxx", "szz")} AS r_xz
        FROM a
    ), p AS (
        SELECT *,
               round((r_yx - r_yz * r_xz)
                     / nullif(sqrt((1.0 - r_yz * r_yz)
                                   * (1.0 - r_xz * r_xz)), 0.0), 6)
                   AS r_partial
        FROM c
    )
    SELECT name, n_points, r_yx, r_yz, r_xz, r_partial,
           CASE WHEN abs(r_partial) < 1.0 AND n_points > 4
                THEN {_GRANGER_Z_SQL} END AS fisher_z,
           CAST(1.96 AS DOUBLE) AS z_crit_5pct,
           abs(CASE WHEN abs(r_partial) < 1.0 AND n_points > 4
                    THEN {_GRANGER_Z_SQL} END) > 1.96
               AS granger_causes_purchases
    FROM p ORDER BY name
"""


# ---------------------------------------------------------------------------
# KPSS stationarity + the auto.arima differencing-order decision
# (r7 cont.).  forecast::auto.arima — the engine behind the reference's
# ARIMA method (TimeSeriesFunctions_GPL_0.5.1.R:84-95) — picks d by
# repeated KPSS tests (ndiffs, Kwiatkowski et al. 1992) and D by the
# STL seasonal-strength rule (nsdiffs measure "seas", Wang,
# Smith-Miles & Hyndman 2006: F_S >= 0.64 -> D=1); the reference's
# ARIMA_FORCE_SEASONALITY branch (R:87-88) overrides exactly that D
# decision to 1.  `series_dickey_fuller` asks the mirrored unit-root
# question; this pair replays the decision auto.arima actually makes.
#
# Exactness: with values on the 1e-6 micro-grid and residuals scaled
# by m (e_t = m*x_t - sum(x), exact BIGINT), the KPSS statistic
#   eta = sum(S_t^2)/m^2 / lrv,  lrv = (1/m)(g0 + 2*sum_j w_j g_j),
#   w_j = 1 - j/(l+1)  (Bartlett)
# collapses to ONE IEEE division of exact integers:
#   eta = (l+1)*sum(Stilde^2) / (m * ((l+1)*g0t + 2*sum_j (l+1-j)*g_jt))
# where Stilde/g*t are the scaled partial sums / autocovariance
# numerators (128-bit).  The lag truncation l = floor(4*(m/100)^(1/4))
# (urca lags="short") is resolved in EXACT integer arithmetic via
# 25*l^4 <= 64*m — no libm pow on either engine, so the truncation can
# never flip on a last-ulp difference (the data-dependent-critical-
# value lesson).  Crit 0.463 = the 5% level-stationarity point, a
# shared literal.
#
# Scale: one lag-window pass + one grouped aggregate per difference
# order — everything partitions by (name, index); the lag fan-out is
# the constant _KPSS_MAXLAG, independent of series count.
#
# _KPSS_MAXLAG caps the lag truncation at 12, which deviates from the
# urca lags="short" formula for m >= 11157 (floor(4*(m/100)^0.25)
# reaches 13 there): BOTH engines and the numpy test oracle apply the
# same cap, so parity holds, but a >=11157-point series computes a
# 12-lag Bartlett window where R would use 13+ (ADVICE r7 low #4 —
# documented deviation; raise _KPSS_MAXLAG to widen, the lag fan-out
# cost is linear in it).

_KPSS_MAXLAG = 12
_KPSS_CRIT = "0.463"


def _kpss_lag_trunc_when(mcol):
    """l = floor(4*(m/100)^0.25) clamped to [0, min(m-1, maxlag)] as an
    exact integer cascade: l >= j  <=>  25*j^4 <= 64*m."""
    expr = F.lit(0).cast("long")
    for j in range(1, _KPSS_MAXLAG + 1):
        expr = F.when(F.lit(25 * j ** 4) <= F.lit(64) * mcol,
                      F.lit(j).cast("long")).otherwise(expr)
    return F.least(expr, mcol - 1)


def _kpss_x_union(spark: SparkSession, sf_dir: str,
                  diffs: tuple) -> DataFrame:
    """(name, index, dd, evaluationDate, x): the micro-grid series at
    each requested difference order, union-tagged by ``dd`` so every
    requested order rides ONE scan / window / aggregate pass."""
    from pyspark.sql.window import Window
    metrics = _metrics(spark, sf_dir)
    wo = Window.partitionBy("name", "index").orderBy("evaluationDate")
    vu = F.round(F.round("value", 6) * 1e6, 0).cast("long")
    seq = metrics.select("name", "index", "evaluationDate",
                         vu.alias("vu"))
    if len(diffs) > 1:
        # r9 (guide §2.4): with several requested orders the union
        # re-ran the metric chain once per branch — one cut
        seq = seq.localCheckpoint()
    parts = []
    for d in diffs:
        if d == 1:
            parts.append(
                seq.withColumn("xp", F.lag("vu").over(wo))
                .where(F.col("xp").isNotNull())
                .select("name", "index", F.lit(1).alias("dd"),
                        "evaluationDate",
                        (F.col("vu") - F.col("xp")).alias("x")))
        else:
            parts.append(
                seq.select("name", "index", F.lit(0).alias("dd"),
                           "evaluationDate", F.col("vu").alias("x")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _kpss_eta_from_x(x: DataFrame) -> DataFrame:
    """(name, index, dd, m, lag_trunc, eta, overflow) from a
    ``_kpss_x_union`` frame — one window chain + one grouped
    aggregate, partitioned by (name, index, dd) so multiple
    difference orders compute in the same pass.  ``overflow`` is True
    when any decimal(38,0) intermediate silently NULLed (reachable
    only on a NON-ANSI session; see the discipline note below)."""
    from pyspark.sql.window import Window
    keys = ["name", "index", "dd"]
    wo = Window.partitionBy(*keys).orderBy("evaluationDate")
    ws = Window.partitionBy(*keys)
    # Magnitude discipline (review r7): eta is location-invariant in
    # exact arithmetic (e_t = m*x_t - sum(x) cancels any constant
    # shift — pinned bit-exactly by test), so shift each group by its
    # MIN first: intermediates then scale with the series RANGE, not
    # its mean, killing the int64 wrap a high-mean series would hit in
    # m*x.  The residual e accumulates in decimal(38,0) (m*xs can't
    # overflow it: xs fits int64, m <= ~1e5), mirroring DuckDB's
    # HUGEINT arithmetic on the same shifted values.
    e = (x
         .withColumn("xs", F.col("x") - F.min("x").over(ws))
         .withColumn("m", F.count(F.lit(1)).over(ws))
         .withColumn("sx", F.sum("xs").over(ws))
         .select(*keys, "evaluationDate", "m",
                 (F.col("m").cast("decimal(38,0)") * F.col("xs")
                  - F.col("sx")).alias("e")))
    wc = wo.rowsBetween(Window.unboundedPreceding, 0)
    # S_t grows like n^2 * sigma * 1e6 — far beyond int64; it stays in
    # decimal(38,0).  Overflow discipline (ADVICE r7 medium #2/#3 +
    # r8 review): on the engine's OWN sessions spark.sql.ansi.enabled
    # is pinned true (session.py), so a decimal(38,0) overflow RAISES
    # — exactly like DuckDB's HUGEINT out-of-range on the mirrored
    # oracle — and the guard below is dead code.  But queries() run on
    # a CALLER-supplied session too; if that session disabled ANSI,
    # Spark NULLs the overflowed rows instead, and a sum over them is
    # silently shortened (plausible but wrong).  The per-row guard
    # counts every such NULLed intermediate — the running sum s, the
    # products s*s / e*e / e*e_j — and the per-lag counts c{j} expose
    # a b{j} aggregate that nulled by SUM overflow (products fine,
    # total past 1e38) rather than by an all-null short series.  Any
    # hit => overflow=True => eta NULL and (downstream) stationary /
    # ndiffs NULL, never the constant-series TRUE branch.
    prod_bad = (F.col("s").isNull()
                | (F.col("s") * F.col("s")).isNull()
                | (F.col("e") * F.col("e")).isNull())
    for j in range(1, _KPSS_MAXLAG + 1):
        prod_bad = prod_bad | (F.col(f"e{j}").isNotNull()
                               & (F.col("e") * F.col(f"e{j}")).isNull())
    z = e.select(
        *keys, "m", "e",
        F.sum("e").over(wc).alias("s"),
        *[F.lag("e", j).over(wo).alias(f"e{j}")
          for j in range(1, _KPSS_MAXLAG + 1)])
    zero38 = F.lit(0).cast("decimal(38,0)")
    agg = (z.groupBy(*keys, "m")
           .agg(F.sum(F.col("s") * F.col("s")).alias("a2"),
                F.sum(F.col("e") * F.col("e")).alias("b0"),
                F.sum(F.when(prod_bad, 1).otherwise(0)).alias("g"),
                *[c for j in range(1, _KPSS_MAXLAG + 1)
                  for c in (F.sum(F.col("e") * F.col(f"e{j}"))
                            .alias(f"b{j}"),
                            F.count(F.col(f"e{j}")).alias(f"c{j}"))]))
    lcol = _kpss_lag_trunc_when(F.col("m"))
    agg = agg.withColumn("l", lcol)
    dprime = (F.col("l") + 1).cast("decimal(38,0)") * F.col("b0")
    overflow = (F.col("g") > 0) | F.col("a2").isNull() \
        | F.col("b0").isNull()
    for j in range(1, _KPSS_MAXLAG + 1):
        wj = (F.when(F.col("l") >= j, F.col("l") + 1 - j)
              .otherwise(F.lit(0))).cast("decimal(38,0)")
        dprime = dprime + F.lit(2).cast("decimal(38,0)") * wj \
            * F.coalesce(F.col(f"b{j}"), zero38)
        # b_j null with non-null inputs = the sum itself overflowed
        overflow = overflow | ((F.col(f"c{j}") > 0)
                               & F.col(f"b{j}").isNull())
    agg = (agg.withColumn("dprime", dprime)
           .withColumn("overflow", overflow))
    num = ((F.col("l") + 1).cast("decimal(38,0)") * F.col("a2")) \
        .cast("double")
    den = F.col("m").cast("double") * F.col("dprime").cast("double")
    eta = F.when(~F.col("overflow") & (F.col("dprime") != 0),
                 F.round(num / den, 6))
    return agg.select(*keys,
                      F.col("m").cast("long").alias("m"),
                      F.col("l").alias("lag_trunc"),
                      eta.alias("eta"),
                      F.col("overflow"))


def _kpss_eta_frame(spark: SparkSession, sf_dir: str, diff: int) -> DataFrame:
    """(name, index, m, lag_trunc, eta) for the KPSS level test on the
    series differenced ``diff`` times (diff in {0, 1})."""
    return (_kpss_eta_from_x(_kpss_x_union(spark, sf_dir, (diff,)))
            .drop("dd"))


def series_kpss_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity test per metric series (Kwiatkowski,
    Phillips, Schmidt & Shin 1992; urca lags="short" Bartlett window)
    — the test forecast::ndiffs runs to pick d inside the reference's
    auto.arima call (R:84-95), with stationarity as the NULL (the
    mirror of `series_dickey_fuller`'s unit-root null; the two
    disagreeing flags a borderline series).  eta > 0.463 rejects
    level stationarity at 5%.  Constant series have a zero long-run
    variance -> eta NULL -> stationary (a constant is stationary).

    Overflow contract (ADVICE r7 medium #3 + r8 review): on the
    engine's own sessions (ANSI pinned) and on DuckDB an overflow
    RAISES; on a caller-supplied NON-ANSI session the guard in
    `_kpss_eta_from_x` detects the silently-NULLed intermediates and
    this query emits stationary NULL (and eta NULL) for the affected
    series — overflow can never fold into the constant-series TRUE
    branch."""
    k = _kpss_eta_frame(spark, sf_dir, 0)
    stat = (F.when(F.col("overflow"), F.lit(None).cast("boolean"))
            .when(F.col("eta").isNull(), F.lit(True))
            .otherwise(F.col("eta") <= float(_KPSS_CRIT)))
    return (k.select("name", "index", F.col("m").alias("n_obs"),
                     "lag_trunc", F.col("eta").alias("kpss_eta"),
                     F.lit(float(_KPSS_CRIT)).alias("crit_5pct"),
                     stat.alias("stationary"))
            .orderBy("name", "index"))


def series_ndiffs_nsdiffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The auto.arima differencing-order DECISION per series: d =
    forecast::ndiffs (repeated KPSS at 5%, max 2) and D =
    forecast::nsdiffs measure "seas" (STL seasonal strength >= 0.64,
    max 1 — the exact decision R:87-88's ARIMA_FORCE_SEASONALITY
    overrides to D=1).  Joins the two KPSS passes with the
    `series_decomposition_strength` seasonal feature, so the full
    (d, D) starting point of the reference's ARIMA grid is one
    queryable row per series.

    Plan shape: BOTH KPSS passes ride one union-tagged scan / window
    chain / aggregate partitioned by (name, index, dd) — one shuffle
    for the pair instead of two independent passes — then pivot to
    (kpss_level, kpss_diff1) columns and broadcast-join the
    decomposition-strength feature.

    Coverage: the seasonal-strength feature needs >= 7 observations
    (no interior MA points below that), so it is LEFT-joined —
    shorter series keep their KPSS d-decision with seasonal_strength
    NULL and nsdiffs 0 (forecast::nsdiffs also returns 0 when the
    seasonal fit is unavailable); an inner join silently dropped
    those rows (ADVICE r7 low #5)."""
    crit = float(_KPSS_CRIT)
    both = _kpss_eta_from_x(_kpss_x_union(spark, sf_dir, (0, 1)))
    wide = (both.groupBy("name", "index")
            .agg(F.max(F.when(F.col("dd") == 0, F.col("eta")))
                 .alias("kpss_level"),
                 F.max(F.when(F.col("dd") == 1, F.col("eta")))
                 .alias("kpss_diff1"),
                 # non-ANSI-session overflow on EITHER pass voids the
                 # d-decision (ndiffs NULL, never a spurious 0)
                 F.max(F.col("overflow")).alias("ovf")))
    seas = (series_decomposition_strength(spark, sf_dir)
            .select("name", "index", "seasonal_strength"))
    j = wide.join(seas, ["name", "index"], "left")
    lvl_stat = (F.col("kpss_level").isNull()
                | (F.col("kpss_level") <= crit))
    d1_stat = (F.col("kpss_diff1").isNull()
               | (F.col("kpss_diff1") <= crit))
    ndiffs = (F.when(F.col("ovf"), F.lit(None))
              .when(lvl_stat, 0).when(d1_stat, 1).otherwise(2)
              .cast("long"))
    nsdiffs = (F.when(F.col("seasonal_strength") >= 0.64, 1).otherwise(0)
               .cast("long"))
    return (j.select("name", "index", "kpss_level", "kpss_diff1",
                     ndiffs.alias("ndiffs"), "seasonal_strength",
                     nsdiffs.alias("nsdiffs"))
            .orderBy("name", "index"))


QUERIES["series_kpss_test"] = series_kpss_test
QUERIES["series_ndiffs_nsdiffs"] = series_ndiffs_nsdiffs


def _kpss_sql_chain(tag: str, diff: int) -> str:
    """CTE chain computing k{tag}(name, index, m, l, eta) from the
    shared kser(name, index, t, vu) base — the SQL mirror of
    `_kpss_eta_frame` (identical integer arithmetic, HUGEINT sums)."""
    maxlag = _KPSS_MAXLAG
    if diff == 1:
        x_cte = f"""x{tag} AS (
        SELECT name, index, t, x FROM (
            SELECT name, index, t,
                   vu - lag(vu) OVER (PARTITION BY name, index
                                      ORDER BY t) AS x
            FROM kser)
        WHERE x IS NOT NULL
    )"""
    else:
        x_cte = f"""x{tag} AS (
        SELECT name, index, t, vu AS x FROM kser
    )"""
    lag_cols = ",\n               ".join(
        f"lag(e, {j}) OVER wz AS e{j}" for j in range(1, maxlag + 1))
    prods = ",\n               ".join(
        f"COALESCE(sum(CAST(e AS HUGEINT) * e{j}), 0) AS b{j}"
        for j in range(1, maxlag + 1))
    # exact integer lag truncation: l >= j <=> 25*j^4 <= 64*m
    l_expr = "CAST(0 AS BIGINT)"
    for j in range(1, maxlag + 1):
        l_expr = (f"CASE WHEN {25 * j ** 4} <= 64 * m "
                  f"THEN CAST({j} AS BIGINT) ELSE {l_expr} END")
    wterms = " + ".join(
        f"2 * CAST(CASE WHEN l >= {j} THEN l + 1 - {j} ELSE 0 END "
        f"AS HUGEINT) * b{j}" for j in range(1, maxlag + 1))
    return f"""{x_cte}, e{tag} AS (
        -- min-shifted (location-invariant in exact arithmetic) so
        -- intermediates scale with the series RANGE, not its mean;
        -- HUGEINT e mirrors the Spark side's decimal(38,0)
        SELECT name, index, t, m, CAST(m AS HUGEINT) * xs - sx AS e
        FROM (SELECT *, count(*) OVER ws AS m, sum(xs) OVER ws AS sx
              FROM (SELECT *, x - min(x) OVER wm AS xs
                    FROM x{tag}
                    WINDOW wm AS (PARTITION BY name, index))
              WINDOW ws AS (PARTITION BY name, index))
    ), z{tag} AS (
        SELECT name, index, m, e,
               sum(e) OVER (PARTITION BY name, index ORDER BY t
                            ROWS UNBOUNDED PRECEDING) AS s,
               {lag_cols}
        FROM e{tag}
        WINDOW wz AS (PARTITION BY name, index ORDER BY t)
    ), a{tag} AS (
        SELECT name, index, m,
               sum(CAST(s AS HUGEINT) * s) AS a2,
               sum(CAST(e AS HUGEINT) * e) AS b0,
               {prods}
        FROM z{tag} GROUP BY 1, 2, 3
    ), k{tag} AS (
        SELECT name, index, m, l,
               CASE WHEN dprime <> 0 THEN
                   round(CAST(CAST(l + 1 AS HUGEINT) * a2 AS DOUBLE)
                         / (CAST(m AS DOUBLE) * CAST(dprime AS DOUBLE)),
                         6)
               END AS eta
        FROM (SELECT *, CAST(l + 1 AS HUGEINT) * b0 + {wterms} AS dprime
              FROM (SELECT *, least({l_expr}, m - 1) AS l FROM a{tag}))
    )"""


_KPSS_BASE = f"""
    WITH mk AS ({_METRICS_EVENTS}),
    kser AS (
        SELECT name, index,
               row_number() OVER (PARTITION BY name, index
                                  ORDER BY evaluationDate) AS t,
               CAST(round(round(value, 6) * 1e6, 0) AS BIGINT) AS vu
        FROM mk
    )"""


ORACLES["series_kpss_test"] = f"""{_KPSS_BASE},
    {_kpss_sql_chain("lv", 0)}
    SELECT name, index, m AS n_obs, l AS lag_trunc, eta AS kpss_eta,
           CAST({_KPSS_CRIT} AS DOUBLE) AS crit_5pct,
           CASE WHEN eta IS NULL THEN TRUE
                ELSE eta <= {_KPSS_CRIT} END AS stationary
    FROM klv ORDER BY name, index
"""


ORACLES["series_ndiffs_nsdiffs"] = f"""{_KPSS_BASE},
    {_kpss_sql_chain("lv", 0)},
    {_kpss_sql_chain("d1", 1)},
    seasx AS (
        SELECT name, index, seasonal_strength
        FROM ({{decomp_oracle}})
    )
    SELECT k0.name, k0.index,
           k0.eta AS kpss_level, k1.eta AS kpss_diff1,
           CAST(CASE WHEN k0.eta IS NULL OR k0.eta <= {_KPSS_CRIT} THEN 0
                     WHEN k1.eta IS NULL OR k1.eta <= {_KPSS_CRIT} THEN 1
                     ELSE 2 END AS BIGINT) AS ndiffs,
           s.seasonal_strength,
           CAST(CASE WHEN s.seasonal_strength >= 0.64 THEN 1
                     ELSE 0 END AS BIGINT) AS nsdiffs
    FROM klv k0
    JOIN kd1 k1 ON k0.name = k1.name AND k0.index = k1.index
    LEFT JOIN seasx s ON k0.name = s.name AND k0.index = s.index
    ORDER BY k0.name, k0.index
""".format(decomp_oracle=ORACLES["series_decomposition_strength"])


# ---------------------------------------------------------------------------
# Round-8 second-half registrations (freeze budget <= +10): residual
# diagnostics, nonparametric change/shift tests, and the Box-Cox lambda
# decision — each the relational replay of a decision the reference's
# model stack makes internally, exactly DuckDB-oracled.


def jarque_bera_normality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per metric series (Jarque & Bera
    1980): JB = n/6 * (S^2 + (K-3)^2/4) from the sample skewness S =
    m3/m2^1.5 and kurtosis K = m4/m2^2.  The Gaussian-residual
    assumption underlies every interval band the reference emits
    (R:97-102 ships mean +/- z*sd pairs); JB is the standard check of
    that assumption, complementing the rank-based `residual_runs_test`
    (independence) next door.

    Exactness: central moments from ONE pass of raw power sums around
    the per-series mean (two-stage: mean first, then centered powers —
    the numerically honest form), rounded at 6dp on both engines.

    Scale: two grouped aggregates per series, no window, no shuffle
    beyond the (name, index) hash — the numeric-profile cost shape."""
    metrics = _metrics(spark, sf_dir)
    mu = metrics.groupBy("name", "index").agg(F.avg("value").alias("mu"))
    j = metrics.join(F.broadcast(mu), ["name", "index"])
    d = F.col("value") - F.col("mu")
    a = (j.groupBy("name", "index")
         .agg(F.count(F.lit(1)).alias("n_obs"),
              F.avg(d * d).alias("m2"),
              F.avg(d * d * d).alias("m3"),
              F.avg(d * d * d * d).alias("m4")))
    s = F.col("m3") / F.nullif(F.pow(F.col("m2"), 1.5), F.lit(0.0))
    k = F.col("m4") / F.nullif(F.col("m2") * F.col("m2"), F.lit(0.0))
    jb = F.col("n_obs") / 6.0 * (s * s + (k - 3.0) * (k - 3.0) / 4.0)
    return (a.select("name", "index", "n_obs",
                     F.round(s, 6).alias("skewness"),
                     F.round(k, 6).alias("kurtosis"),
                     F.round(jb, 6).alias("jb_stat"),
                     # 5% chi2(2) critical value, a shared literal
                     (jb > 5.991464547107979).alias("reject_normal"))
            .orderBy("name", "index"))


QUERIES["jarque_bera_normality"] = jarque_bera_normality
ORACLES["jarque_bera_normality"] = f"""
    WITH m AS ({_METRICS_EVENTS}),
    mu AS (SELECT name, index, avg(value) AS mu
           FROM m GROUP BY 1, 2),
    a AS (
        SELECT m.name, m.index, count(*) AS n_obs,
               avg((value - mu) * (value - mu)) AS m2,
               avg((value - mu) * (value - mu) * (value - mu)) AS m3,
               avg((value - mu) * (value - mu) * (value - mu)
                   * (value - mu)) AS m4
        FROM m JOIN mu USING (name, index) GROUP BY 1, 2
    )
    SELECT name, index, n_obs,
           round(m3 / nullif(pow(m2, 1.5), 0), 6) AS skewness,
           round(m4 / nullif(m2 * m2, 0), 6) AS kurtosis,
           round(n_obs / 6.0 * (pow(m3 / nullif(pow(m2, 1.5), 0), 2)
                 + pow(m4 / nullif(m2 * m2, 0) - 3.0, 2) / 4.0), 6)
               AS jb_stat,
           n_obs / 6.0 * (pow(m3 / nullif(pow(m2, 1.5), 0), 2)
                 + pow(m4 / nullif(m2 * m2, 0) - 3.0, 2) / 4.0)
               > 5.991464547107979 AS reject_normal
    FROM a ORDER BY name, index
"""


def residual_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test per metric series: are the
    above/below-median signs randomly ordered?  A trending or
    oscillating series fails (too few / too many runs), flagging
    autocorrelation the interval bands of R:97-102 would understate —
    the sign-based complement of `series_ljung_box`'s
    correlation-based read.

    Exactness: the median is the shared type-7 interpolated percentile
    (Spark `percentile` == DuckDB `quantile_cont` on identical
    6dp-rounded doubles, the `conformal_snaive_intervals` pairing);
    values equal to the median are dropped (the classical convention);
    runs/n1/n2 are exact integers and only the final z is floating,
    rounded at 6dp.

    Scale: one percentile aggregate + one lag window + one grouped
    aggregate, all partitioned by (name, index)."""
    from pyspark.sql.window import Window
    metrics = _metrics(spark, sf_dir)
    med = (metrics.groupBy("name", "index")
           .agg(F.percentile("value", F.lit(0.5)).alias("med")))
    signs = (metrics.join(F.broadcast(med), ["name", "index"])
             .where(F.col("value") != F.col("med"))
             .select("name", "index", "evaluationDate",
                     (F.col("value") > F.col("med")).alias("up")))
    w = Window.partitionBy("name", "index").orderBy("evaluationDate")
    seq = signs.withColumn("prev", F.lag("up").over(w))
    a = (seq.groupBy("name", "index")
         .agg(F.sum(F.when(F.col("up"), 1).otherwise(0)).alias("n1"),
              F.sum(F.when(F.col("up"), 0).otherwise(1)).alias("n2"),
              (F.lit(1) + F.sum(F.when(
                  F.col("prev").isNotNull()
                  & (F.col("prev") != F.col("up")), 1).otherwise(0)))
              .alias("runs")))
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    nn = n1 + n2
    mean_r = 1 + 2 * n1 * n2 / nn
    var_r = (2 * n1 * n2 * (2 * n1 * n2 - nn)
             / (nn * nn * (nn - 1)))
    z = (F.col("runs") - mean_r) / F.nullif(F.sqrt(var_r), F.lit(0.0))
    return (a.where((F.col("n1") > 0) & (F.col("n2") > 0))
            .select("name", "index", "n1", "n2", "runs",
                    F.round(mean_r, 6).alias("mean_runs"),
                    F.round(z, 6).alias("z"),
                    (F.abs(z) > 1.959963984540054).alias("nonrandom"))
            .orderBy("name", "index"))


QUERIES["residual_runs_test"] = residual_runs_test
ORACLES["residual_runs_test"] = f"""
    WITH m AS ({_METRICS_EVENTS}),
    med AS (SELECT name, index, quantile_cont(value, 0.5) AS med
            FROM m GROUP BY 1, 2),
    signs AS (
        SELECT m.name, m.index, evaluationDate, value > med AS up
        FROM m JOIN med USING (name, index)
        WHERE value <> med
    ), seq AS (
        SELECT *, lag(up) OVER (PARTITION BY name, index
                                ORDER BY evaluationDate) AS prev
        FROM signs
    ), a AS (
        SELECT name, index,
               CAST(sum(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN up THEN 0 ELSE 1 END) AS BIGINT) AS n2,
               CAST(1 + sum(CASE WHEN prev IS NOT NULL AND prev <> up
                            THEN 1 ELSE 0 END) AS BIGINT) AS runs
        FROM seq GROUP BY 1, 2
    )
    SELECT name, index, n1, n2, runs,
           round(1 + 2.0 * n1 * n2 / (n1 + n2), 6) AS mean_runs,
           round((runs - (1 + 2.0 * n1 * n2 / (n1 + n2)))
                 / nullif(sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                          / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                             * (n1 + n2 - 1))), 0), 6) AS z,
           abs((runs - (1 + 2.0 * n1 * n2 / (n1 + n2)))
                 / nullif(sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                          / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                             * (n1 + n2 - 1))), 0))
               > 1.959963984540054 AS nonrandom
    FROM a WHERE n1 > 0 AND n2 > 0
    ORDER BY name, index
"""


def wilcoxon_signed_rank_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on WEEK-OVER-WEEK changes per metric
    series (d_t = y_t - y_{t-7}): the paired nonparametric sibling of
    `forecast_dm_test` — is the weekly level shift systematic or
    symmetric noise?  Zero differences are dropped and ties rank-
    averaged, with the classic tie-corrected normal approximation
    (sigma^2 = n(n+1)(2n+1)/24 - sum(t^3-t)/48, R `wilcox.test`).

    Exactness: d is a difference of 6dp-rounded doubles (exact); ranks
    use the tier trick (`ab_mannwhitney_test`) — DISTINCT |d| tiers,
    one ordered pass per series, half-integer rank arithmetic held as
    2*rank BIGINTs so W+ is exact before the one float division.

    Scale: tier cardinality is value-bounded; two windows + two
    grouped aggregates, all partitioned by (name, index)."""
    from pyspark.sql.window import Window
    metrics = _metrics(spark, sf_dir)
    w = Window.partitionBy("name", "index").orderBy("evaluationDate")
    d = (metrics.withColumn("lag7", F.lag("value", 7).over(w))
         .where(F.col("lag7").isNotNull()
                & (F.col("value") != F.col("lag7")))
         .select("name", "index",
                 (F.col("value") - F.col("lag7")).alias("d")))
    tiers = (d.groupBy("name", "index", F.abs("d").alias("ad"))
             .agg(F.count(F.lit(1)).alias("t"),
                  F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
                  .alias("t_pos")))
    wt = (Window.partitionBy("name", "index").orderBy("ad")
          .rowsBetween(Window.unboundedPreceding, -1))
    ranked = (tiers.withColumn(
        "cum_before", F.coalesce(F.sum("t").over(wt),
                                 F.lit(0).cast("long")))
        # 2*avg_rank = 2*cum_before + t + 1: exact integer
        .withColumn("rank2", 2 * F.col("cum_before") + F.col("t") + 1))
    a = (ranked.groupBy("name", "index")
         .agg(F.sum("t").alias("n_pairs"),
              F.sum(F.col("t_pos") * F.col("rank2")).alias("w2_plus"),
              F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
              .alias("tie_sum")))
    n = F.col("n_pairs").cast("double")
    w_plus = F.col("w2_plus").cast("double") / 2
    mean_w = n * (n + 1) / 4
    var_w = (n * (n + 1) * (2 * n + 1) / 24
             - F.col("tie_sum").cast("double") / 48)
    z = (w_plus - mean_w) / F.nullif(F.sqrt(var_w), F.lit(0.0))
    return (a.select("name", "index", "n_pairs",
                     F.round(w_plus, 1).alias("w_plus"),
                     F.round(mean_w, 1).alias("mean_w"),
                     "tie_sum",
                     F.round(z, 6).alias("z"),
                     (F.abs(z) > 1.959963984540054).alias("significant"))
            .orderBy("name", "index"))


QUERIES["wilcoxon_signed_rank_wow"] = wilcoxon_signed_rank_wow
ORACLES["wilcoxon_signed_rank_wow"] = f"""
    WITH m AS ({_METRICS_EVENTS}),
    d AS (
        SELECT name, index, value - lag7 AS d
        FROM (SELECT *, lag(value, 7) OVER (PARTITION BY name, index
                        ORDER BY evaluationDate) AS lag7 FROM m)
        WHERE lag7 IS NOT NULL AND value <> lag7
    ), tiers AS (
        SELECT name, index, abs(d) AS ad, count(*) AS t,
               CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS t_pos
        FROM d GROUP BY 1, 2, 3
    ), ranked AS (
        SELECT *,
               2 * coalesce(sum(t) OVER (PARTITION BY name, index
                     ORDER BY ad ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) + t + 1 AS rank2
        FROM tiers
    ), a AS (
        SELECT name, index, CAST(sum(t) AS BIGINT) AS n_pairs,
               CAST(sum(t_pos * rank2) AS BIGINT) AS w2_plus,
               CAST(sum(t * t * t - t) AS BIGINT) AS tie_sum
        FROM ranked GROUP BY 1, 2
    )
    SELECT name, index, n_pairs,
           round(w2_plus / 2.0, 1) AS w_plus,
           round(CAST(n_pairs AS DOUBLE) * (n_pairs + 1) / 4, 1) AS mean_w,
           tie_sum,
           round((w2_plus / 2.0
                  - CAST(n_pairs AS DOUBLE) * (n_pairs + 1) / 4)
                 / nullif(sqrt(CAST(n_pairs AS DOUBLE) * (n_pairs + 1)
                               * (2.0 * n_pairs + 1) / 24
                               - tie_sum / 48.0), 0), 6) AS z,
           abs((w2_plus / 2.0
                  - CAST(n_pairs AS DOUBLE) * (n_pairs + 1) / 4)
                 / nullif(sqrt(CAST(n_pairs AS DOUBLE) * (n_pairs + 1)
                               * (2.0 * n_pairs + 1) / 24
                               - tie_sum / 48.0), 0))
               > 1.959963984540054 AS significant
    FROM a ORDER BY name, index
"""


def pettitt_change_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt's nonparametric change-point test per metric series
    (Pettitt 1979): K = max_t |U_t|, U_t = 2*S_t - t*(n+1) with S_t
    the cumulative sum of tie-averaged ranks — the rank-based (outlier-
    robust) sibling of `series_changepoint_cusum`, locating a single
    level shift with the approximate significance p ~ 2*exp(-6K^2 /
    (n^3 + n^2)).

    Exactness: ranks via the tier trick held as 2*rank BIGINTs, so
    U_t = cumsum(rank2) - t*(n+1) is EXACT integer arithmetic; the
    change point is the deterministic (max |U|, min t) row; only the
    final p-value is floating, rounded at 6dp.

    Scale: one tier pass + one join-back + one ordered cumulative
    window + one deterministic top-1 per series — all partitioned by
    (name, index)."""
    from pyspark.sql.window import Window
    metrics = _metrics(spark, sf_dir)
    tiers = (metrics.groupBy("name", "index", "value")
             .agg(F.count(F.lit(1)).alias("t")))
    wt = (Window.partitionBy("name", "index").orderBy("value")
          .rowsBetween(Window.unboundedPreceding, -1))
    ranked = (tiers.withColumn(
        "cum_before", F.coalesce(F.sum("t").over(wt),
                                 F.lit(0).cast("long")))
        .withColumn("rank2", 2 * F.col("cum_before") + F.col("t") + 1)
        .select("name", "index", "value", "rank2"))
    w = Window.partitionBy("name", "index").orderBy("evaluationDate")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    seq = (metrics.join(ranked, ["name", "index", "value"])
           .withColumn("tpos", F.row_number().over(w).cast("long"))
           .withColumn("n", F.count(F.lit(1)).over(
               Window.partitionBy("name", "index")))
           .withColumn("u",
                       F.sum("rank2").over(wc)
                       - F.col("tpos") * (F.col("n") + 1)))
    cand = seq.where(F.col("tpos") < F.col("n"))
    pick = Window.partitionBy("name", "index").orderBy(
        F.abs("u").desc(), F.col("tpos").asc())
    top = (cand.withColumn("rn", F.row_number().over(pick))
           .where(F.col("rn") == 1))
    n = F.col("n").cast("double")
    k = F.abs(F.col("u")).cast("double")
    p = F.least(F.lit(1.0), 2 * F.exp(-6 * k * k / (n * n * n + n * n)))
    return (top.select("name", "index", F.col("n").alias("n_obs"),
                       F.abs(F.col("u")).alias("k_stat"),
                       F.col("tpos").alias("change_t"),
                       F.col("evaluationDate").alias("change_date"),
                       F.round(p, 6).alias("p_approx"),
                       (p < 0.05).alias("significant"))
            .orderBy("name", "index"))


QUERIES["pettitt_change_test"] = pettitt_change_test
ORACLES["pettitt_change_test"] = f"""
    WITH m AS ({_METRICS_EVENTS}),
    tiers AS (
        SELECT name, index, value, count(*) AS t
        FROM m GROUP BY 1, 2, 3
    ), ranked AS (
        SELECT name, index, value,
               2 * coalesce(sum(t) OVER (PARTITION BY name, index
                     ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) + t + 1 AS rank2
        FROM tiers
    ), seq AS (
        SELECT m.name, m.index, m.evaluationDate,
               CAST(row_number() OVER w AS BIGINT) AS tpos,
               count(*) OVER (PARTITION BY m.name, m.index) AS n,
               sum(rank2) OVER (PARTITION BY m.name, m.index
                   ORDER BY m.evaluationDate
                   ROWS UNBOUNDED PRECEDING)
                   - CAST(row_number() OVER w AS BIGINT)
                     * (count(*) OVER (PARTITION BY m.name, m.index) + 1)
                   AS u
        FROM m JOIN ranked USING (name, index, value)
        WINDOW w AS (PARTITION BY m.name, m.index
                     ORDER BY m.evaluationDate)
    ), top AS (
        SELECT *, row_number() OVER (PARTITION BY name, index
                    ORDER BY abs(u) DESC, tpos ASC) AS rn
        FROM seq WHERE tpos < n
    )
    SELECT name, index, n AS n_obs,
           CAST(abs(u) AS BIGINT) AS k_stat,
           tpos AS change_t,
           evaluationDate AS change_date,
           round(least(1.0, 2 * exp(-6.0 * abs(u) * abs(u)
                 / (CAST(n AS DOUBLE) * n * n + CAST(n AS DOUBLE) * n))),
                 6) AS p_approx,
           least(1.0, 2 * exp(-6.0 * abs(u) * abs(u)
                 / (CAST(n AS DOUBLE) * n * n + CAST(n AS DOUBLE) * n)))
               < 0.05 AS significant
    FROM top WHERE rn = 1
    ORDER BY name, index
"""


def partial_corr_controls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlations between the daily event-type
    series: for every pair (x, y) and every control z, r_xy.z =
    (r_xy - r_xz*r_yz) / sqrt((1-r_xz^2)(1-r_yz^2)) — does the x~y
    co-movement survive holding z fixed?  The classic confounder
    screen over `series_spearman_matrix`'s raw associations (a shared
    daily-traffic driver inflates every pairwise correlation; the
    partials show which links are direct).

    Exactness: Pearson r from raw power sums on COMPLETE days only
    (every series present — one shared support, so all pairwise r use
    the same n), the `series_trend_ols` discipline; the partial-corr
    formula is a fixed double expression of three r's, rounded 6dp.

    Scale: the pivot is day-cardinality; pairs/triples are
    type-cardinality (k^3 rows for k event types) — dimension-sized
    after one scan."""
    metrics = _metrics(spark, sf_dir)
    # complete days = days carrying every series; the type count rides
    # the plan as a broadcast scalar (no driver-side action)
    kt = metrics.agg(F.countDistinct("name").alias("k"))
    days = (metrics.groupBy("evaluationDate")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .crossJoin(F.broadcast(kt))
            .where(F.col("cnt") == F.col("k"))
            .select("evaluationDate"))
    # r9 (guide §2.4): m feeds both self-join sides and rr three
    # consumers (the triple base + two lookup broadcasts) — two small
    # cuts keep the metric chain single-run
    m = (metrics.join(F.broadcast(days), "evaluationDate")
         .localCheckpoint())
    pairs = (m.alias("a").join(
        m.alias("b"),
        (F.col("a.evaluationDate") == F.col("b.evaluationDate"))
        & (F.col("a.name") < F.col("b.name")))
        .groupBy(F.col("a.name").alias("x"), F.col("b.name").alias("y"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("a.value").alias("sx"),
             F.sum("b.value").alias("sy"),
             F.sum(F.col("a.value") * F.col("b.value")).alias("sxy"),
             F.sum(F.col("a.value") * F.col("a.value")).alias("sxx"),
             F.sum(F.col("b.value") * F.col("b.value")).alias("syy")))
    n = F.col("n").cast("double")
    r = ((n * F.col("sxy") - F.col("sx") * F.col("sy"))
         / F.nullif(F.sqrt((n * F.col("sxx") - F.col("sx") * F.col("sx"))
                           * (n * F.col("syy")
                              - F.col("sy") * F.col("sy"))),
                    F.lit(0.0)))
    rr = pairs.select("x", "y", r.alias("r")).localCheckpoint()
    names = metrics.select(F.col("name").alias("z")).distinct()
    tri = (rr.select("x", "y", F.col("r").alias("r_xy"))
           .crossJoin(F.broadcast(names))
           .where((F.col("z") != F.col("x")) & (F.col("z") != F.col("y"))))

    def _pair_lookup(df, col_a, col_b, alias):
        # rr holds each unordered pair once under (x < y); canonicalize
        # the probe side with least/greatest to match
        c = rr.select(
            F.least("x", "y").alias("la"),
            F.greatest("x", "y").alias("lb"),
            F.col("r").alias(alias))
        return (df.join(F.broadcast(c),
                        (F.least(col_a, col_b) == c["la"])
                        & (F.greatest(col_a, col_b) == c["lb"]))
                .drop("la", "lb"))

    tri = _pair_lookup(tri, F.col("x"), F.col("z"), "r_xz")
    tri = _pair_lookup(tri, F.col("y"), F.col("z"), "r_yz")
    pc = ((F.col("r_xy") - F.col("r_xz") * F.col("r_yz"))
          / F.nullif(F.sqrt((1 - F.col("r_xz") * F.col("r_xz"))
                            * (1 - F.col("r_yz") * F.col("r_yz"))),
                     F.lit(0.0)))
    return (tri.select("x", "y", "z",
                       F.round("r_xy", 6).alias("r_xy"),
                       F.round(pc, 6).alias("r_xy_given_z"),
                       F.round(F.abs(F.round("r_xy", 6))
                               - F.abs(F.round(pc, 6)), 6)
                       .alias("attenuation"))
            .orderBy("x", "y", "z"))


QUERIES["partial_corr_controls"] = partial_corr_controls
ORACLES["partial_corr_controls"] = f"""
    WITH m0 AS ({_METRICS_EVENTS}),
    kt AS (SELECT count(DISTINCT name) AS k FROM m0),
    days AS (
        SELECT evaluationDate FROM m0, kt
        GROUP BY evaluationDate, k HAVING count(*) = any_value(k)
    ), m AS (
        SELECT m0.* FROM m0 JOIN days USING (evaluationDate)
    ), pairs AS (
        SELECT a.name AS x, b.name AS y, count(*) AS n,
               sum(a.value) AS sx, sum(b.value) AS sy,
               sum(a.value * b.value) AS sxy,
               sum(a.value * a.value) AS sxx,
               sum(b.value * b.value) AS syy
        FROM m a JOIN m b ON a.evaluationDate = b.evaluationDate
                         AND a.name < b.name
        GROUP BY 1, 2
    ), rr AS (
        SELECT x, y,
               (n * sxy - sx * sy)
               / nullif(sqrt((n * sxx - sx * sx)
                             * (n * syy - sy * sy)), 0) AS r
        FROM pairs
    ), tri AS (
        SELECT rr.x, rr.y, z.name AS z, rr.r AS r_xy
        FROM rr CROSS JOIN (SELECT DISTINCT name FROM m0) z(name)
        WHERE z.name <> rr.x AND z.name <> rr.y
    ), j1 AS (
        SELECT tri.*, c.r AS r_xz
        FROM tri JOIN rr c
          ON least(tri.x, tri.z) = c.x AND greatest(tri.x, tri.z) = c.y
    ), j2 AS (
        SELECT j1.*, c.r AS r_yz
        FROM j1 JOIN rr c
          ON least(j1.y, j1.z) = c.x AND greatest(j1.y, j1.z) = c.y
    )
    SELECT x, y, z, round(r_xy, 6) AS r_xy,
           round((r_xy - r_xz * r_yz)
                 / nullif(sqrt((1 - r_xz * r_xz)
                               * (1 - r_yz * r_yz)), 0), 6)
               AS r_xy_given_z,
           round(abs(round(r_xy, 6))
                 - abs(round((r_xy - r_xz * r_yz)
                       / nullif(sqrt((1 - r_xz * r_xz)
                                     * (1 - r_yz * r_yz)), 0), 6)), 6)
               AS attenuation
    FROM j2 ORDER BY x, y, z
"""


def theil_u2_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U2 on the last-week holdout for the four closed-form
    forecasters (the `backtest_closed_forms` frame): U2 = sqrt(
    sum(((pred_t - y_t)/y_{t-1})^2) / sum(((y_t - y_{t-1})/y_{t-1})^2) )
    — relative-change RMSE against the no-change forecast, the scale-
    free skill score that complements `forecast_mase_scores` (MASE
    normalizes by in-sample naive MAE; U2 by out-of-sample no-change
    error: U2 < 1 = beats the random walk).

    Exactness: same split discipline as the backtest oracles (train
    t < n-7, holdout the final week); y_prev is the one-step lag over
    the FULL sequence so h=1 divides by the last train value; zero
    y_prev rows are excluded on both sides before the two sums.

    Scale: one lag window + the four-way union + one grouped
    aggregate per (series, method)."""
    from pyspark.sql.window import Window
    w = Window.partitionBy("name", "index").orderBy("evaluationDate")
    seq = (_indexed_series(spark, sf_dir)
           .withColumn("y_prev", F.lag("value", 1).over(w)))
    train = (seq.where(F.col("t") < F.col("n") - 7)
             .groupBy("name", "index")
             .agg(F.avg("value").alias("mean_v"),
                  F.count(F.lit(1)).alias("n_train"),
                  F.max_by("value", "t").alias("last_v"),
                  F.min_by("value", "t").alias("first_v")))
    hold = (seq.where(F.col("t") >= F.col("n") - 7)
            .withColumn("h", F.col("t") - (F.col("n") - 7) + 1)
            .join(F.broadcast(train), ["name", "index"]))
    # one explode fan-out instead of a 4-way union: the union form
    # re-evaluated the window/train chain per branch (11 shuffles
    # measured); this rides one pass (the oracle keeps the UNION ALL —
    # identical rows either way)
    mp = F.explode(F.array(
        F.struct(F.lit("MEAN").alias("method"),
                 F.col("mean_v").alias("pred")),
        F.struct(F.lit("NAIVE").alias("method"),
                 F.col("last_v").alias("pred")),
        F.struct(F.lit("SNAIVE").alias("method"),
                 F.col("lag7").alias("pred")),
        F.struct(F.lit("DRIFT").alias("method"),
                 (F.col("last_v") + F.col("h")
                  * (F.col("last_v") - F.col("first_v"))
                  / F.nullif(F.col("n_train") - 1, F.lit(0)))
                 .alias("pred"))))
    preds = (hold.select("name", "index", "value", "y_prev",
                         mp.alias("mp"))
             .select("name", "index", F.col("mp.method").alias("method"),
                     "value", "y_prev", F.col("mp.pred").alias("pred"))
             .where(F.col("y_prev") != 0))
    fe = (F.col("pred") - F.col("value")) / F.col("y_prev")
    ne = (F.col("value") - F.col("y_prev")) / F.col("y_prev")
    a = (preds.groupBy("name", "index", "method")
         .agg(F.count(F.lit(1)).alias("n_holdout"),
              F.sum(fe * fe).alias("sf"),
              F.sum(ne * ne).alias("sn")))
    u2 = F.sqrt(F.col("sf") / F.nullif(F.col("sn"), F.lit(0.0)))
    return (a.select("name", "index", "method", "n_holdout",
                     F.round(u2, 6).alias("theil_u2"),
                     (u2 < 1.0).alias("beats_random_walk"))
            .orderBy("name", "index", "method"))


QUERIES["theil_u2_backtest"] = theil_u2_backtest
ORACLES["theil_u2_backtest"] = f"""
    WITH m AS ({_METRICS_EVENTS}),
    t AS (
        SELECT name, index, value,
               row_number() OVER w - 1 AS t,
               count(*) OVER (PARTITION BY name, index) AS n,
               lag(value, 7) OVER w AS lag7,
               lag(value, 1) OVER w AS y_prev
        FROM m
        WINDOW w AS (PARTITION BY name, index ORDER BY evaluationDate)
    ), train AS (
        SELECT name, index, avg(value) AS mean_v, count(*) AS n_train,
               arg_max(value, t) AS last_v, arg_min(value, t) AS first_v
        FROM t WHERE t < n - 7 GROUP BY 1, 2
    ), holdout AS (
        SELECT *, t - (n - 7) + 1 AS h FROM t WHERE t >= n - 7
    ), preds AS (
        SELECT h.name, h.index, 'MEAN' AS method, h.value, h.y_prev,
               tr.mean_v AS pred
        FROM holdout h JOIN train tr USING (name, index)
        UNION ALL
        SELECT h.name, h.index, 'NAIVE', h.value, h.y_prev, tr.last_v
        FROM holdout h JOIN train tr USING (name, index)
        UNION ALL
        SELECT h.name, h.index, 'SNAIVE', h.value, h.y_prev, h.lag7
        FROM holdout h JOIN train tr USING (name, index)
        UNION ALL
        SELECT h.name, h.index, 'DRIFT', h.value, h.y_prev,
               tr.last_v + h.h * (tr.last_v - tr.first_v)
                   / nullif(tr.n_train - 1, 0)
        FROM holdout h JOIN train tr USING (name, index)
    ), a AS (
        SELECT name, index, method, count(*) AS n_holdout,
               sum(((pred - value) / y_prev) * ((pred - value) / y_prev))
                   AS sf,
               sum(((value - y_prev) / y_prev)
                   * ((value - y_prev) / y_prev)) AS sn
        FROM preds WHERE y_prev <> 0 GROUP BY 1, 2, 3
    )
    SELECT name, index, method, n_holdout,
           round(sqrt(sf / nullif(sn, 0)), 6) AS theil_u2,
           sqrt(sf / nullif(sn, 0)) < 1.0 AS beats_random_walk
    FROM a ORDER BY name, index, method
"""


def boxcox_guerrero_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Guerrero's Box-Cox lambda selection per metric series (Guerrero
    1993) — the EXACT decision `forecast::BoxCox.lambda` makes inside
    the reference's BAGGEDETS path (R:205: bld.mbb.bootstrap Box-Cox-
    transforms the series before STL + moving-block bootstrap), here
    replayed relationally like the KPSS/ndiffs replay of auto.arima's
    d-decision: split the last floor(n/7)*7 observations into
    length-7 blocks (the series frequency, R's x.mat), per-block mean
    m_h and sd s_h, and pick the lambda in [-1, 2] minimizing the
    coefficient of variation of s_h / m_h^(1-lambda).

    Two decisions per series: ``lambda_guerrero`` over BoxCox.lambda's
    default [-1, 2] range, and ``lambda_bagged`` over the [0, 1]
    restriction `bld.mbb.bootstrap` actually passes (lower=0, upper=1)
    — the latter is the SAME rule the engine's own BAGGEDETS/TBATS
    path computes (`models/bagged.py::_boxcox_lambda`, r8-aligned;
    equality pinned by test_round8_ops).

    Deviation from R: forecast optimizes lambda continuously
    (optimize()); this searches the 0.1 grid over the same ranges, so
    lambda is the grid point nearest R's optimum.  Positive block
    means required (Box-Cox domain); series failing that are
    excluded, like BoxCox.lambda's x > 0 requirement.

    Exactness: block stats are grouped aggregates of 6dp-rounded
    values; the lambda argmin compares 6dp-ROUNDED CVs (ties -> the
    smaller lambda) so a last-ulp pow() divergence between engines
    cannot flip the winner off-grid.

    Scale: blocks are series-length-bounded, the grid is a 31-row
    literal broadcast — cost is one grouped aggregate + a bounded
    fan-out, partitioned by (name, index)."""
    seq = _indexed_series(spark, sf_dir)
    nyr = F.floor(F.col("n") / 7)
    blocks = (seq.where(F.col("t") >= F.col("n") - nyr * 7)
              .withColumn("blk", F.floor(
                  (F.col("t") - (F.col("n") - nyr * 7)) / 7))
              .groupBy("name", "index", "blk")
              .agg(F.avg("value").alias("bm"),
                   F.stddev_samp("value").alias("bs")))
    ok = (blocks.groupBy("name", "index")
          .agg(F.count(F.lit(1)).alias("n_blocks"),
               F.min("bm").alias("min_bm"))
          .where((F.col("n_blocks") >= 2) & (F.col("min_bm") > 0))
          .select("name", "index", "n_blocks"))
    grid = spark.range(-10, 21).select(
        (F.col("id") / 10.0).alias("lam"))
    rat = (blocks.join(ok, ["name", "index"])
           .crossJoin(F.broadcast(grid))
           .select("name", "index", "n_blocks", "lam",
                   (F.col("bs") / F.pow(F.col("bm"), 1.0 - F.col("lam")))
                   .alias("ratio")))
    cv = (rat.groupBy("name", "index", "n_blocks", "lam")
          .agg(F.round(F.stddev_samp("ratio")
                       / F.nullif(F.avg("ratio"), F.lit(0.0)), 6)
               .alias("cv")))
    in01 = (F.col("lam") >= 0.0) & (F.col("lam") <= 1.0)
    best = (cv.groupBy("name", "index")
            .agg(F.min("cv").alias("min_cv"),
                 F.min(F.when(in01, F.col("cv"))).alias("min_cv01")))
    # constant series: every block sd is 0, every CV NULL -> both
    # lambdas default to 1.0 (no transform), matching the engine's
    # _boxcox_lambda fallback (r8 review finding)
    return (cv.join(best, ["name", "index"])
            .groupBy("name", "index", "n_blocks", "min_cv", "min_cv01")
            .agg(F.coalesce(
                F.min(F.when(F.col("cv") == F.col("min_cv"),
                             F.col("lam"))), F.lit(1.0))
                .alias("lambda_guerrero"),
                 F.coalesce(
                F.min(F.when(in01 & (F.col("cv") == F.col("min_cv01")),
                             F.col("lam"))), F.lit(1.0))
                .alias("lambda_bagged"))
            .select("name", "index", "n_blocks", "lambda_guerrero",
                    F.col("min_cv").alias("cv"), "lambda_bagged")
            .orderBy("name", "index"))


QUERIES["boxcox_guerrero_lambda"] = boxcox_guerrero_lambda
ORACLES["boxcox_guerrero_lambda"] = f"""
    WITH m AS ({_METRICS_EVENTS}),
    seq AS (
        SELECT name, index, value,
               row_number() OVER (PARTITION BY name, index
                                  ORDER BY evaluationDate) - 1 AS t,
               count(*) OVER (PARTITION BY name, index) AS n
        FROM m
    ), blocks AS (
        SELECT name, index,
               CAST(floor((t - (n - floor(n / 7) * 7)) / 7) AS BIGINT)
                   AS blk,
               avg(value) AS bm, stddev_samp(value) AS bs
        FROM seq WHERE t >= n - floor(n / 7) * 7
        GROUP BY 1, 2, 3
    ), ok AS (
        SELECT name, index, count(*) AS n_blocks
        FROM blocks GROUP BY 1, 2
        HAVING count(*) >= 2 AND min(bm) > 0
    ), grid AS (
        SELECT i / 10.0 AS lam FROM generate_series(-10, 20) AS g(i)
    ), cv AS (
        SELECT b.name, b.index, ok.n_blocks, lam,
               round(stddev_samp(bs / pow(bm, 1.0 - lam))
                     / nullif(avg(bs / pow(bm, 1.0 - lam)), 0), 6) AS cv
        FROM blocks b JOIN ok USING (name, index) CROSS JOIN grid
        GROUP BY 1, 2, 3, 4
    ), best AS (
        SELECT name, index, min(cv) AS min_cv,
               min(CASE WHEN lam >= 0.0 AND lam <= 1.0 THEN cv END)
                   AS min_cv01
        FROM cv GROUP BY 1, 2
    )
    SELECT cv.name, cv.index, cv.n_blocks,
           coalesce(min(CASE WHEN cv.cv = best.min_cv THEN lam END),
                    1.0) AS lambda_guerrero,
           any_value(min_cv) AS cv,
           coalesce(min(CASE WHEN lam >= 0.0 AND lam <= 1.0
                    AND cv.cv = best.min_cv01 THEN lam END),
                    1.0) AS lambda_bagged
    FROM cv JOIN best USING (name, index)
    GROUP BY 1, 2, 3
    ORDER BY name, index
"""


# ---------------------------------------------------------------------------
# Round-9 series diagnostics: Mann-Kendall trend, turning-point
# randomness — the nonparametric complements of the r7-r8 test family.


def series_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per metric series (Mann 1945 / Kendall
    1975): S = Σ_{i<j} sign(y_j − y_i), the rank-based monotone-trend
    verdict that pairs with `series_theilsen_trend` (Sen's slope is
    literally the MK-associated estimator) the way `residual_runs_test`
    pairs with `series_ljung_box`.  Tie-corrected variance
    Var(S) = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)] / 18 over the
    tie groups g, continuity-corrected z, 5% two-sided verdict.

    Exactness: S and every variance term are EXACT INTEGERS (sign
    comparisons on the 6dp-rounded metric values agree across engines;
    the tie census is integer counts), so the only IEEE ops are one
    sqrt and one division — same on both engines — then a 6dp round.

    Scale: the pairwise self-join is the Theil-Sen envelope (equi-keyed
    per series, bounded by the 10k source cap); the tie census is one
    grouped aggregate.  Cites R:84-95: MK is the trend screen upstream
    of auto.arima's d decision (`series_ndiffs_nsdiffs`)."""
    metrics = _metrics(spark, sf_dir)
    from pyspark.sql.window import Window
    w = Window.partitionBy("name", "index").orderBy("evaluationDate")
    seq = (metrics
           .withColumn("t", F.row_number().over(w).cast("long"))
           .select("name", "index", "t",
                   F.col("value").cast("double").alias("y")))
    a = seq.select("name", "index", F.col("t").alias("ta"),
                   F.col("y").alias("ya"))
    b = seq.select("name", "index", F.col("t").alias("tb"),
                   F.col("y").alias("yb"))
    s = (a.join(b, ["name", "index"])
         .where(F.col("ta") < F.col("tb"))
         .groupBy("name", "index")
         .agg(F.sum(F.signum(F.col("yb") - F.col("ya")).cast("long"))
              .alias("s_stat")))
    n = seq.groupBy("name", "index").agg(F.count(F.lit(1)).alias("n_obs"))
    ties = (seq.groupBy("name", "index", "y")
            .agg(F.count(F.lit(1)).alias("tg"))
            .where(F.col("tg") > 1)
            .groupBy("name", "index")
            .agg(F.sum(F.col("tg") * (F.col("tg") - 1)
                       * (2 * F.col("tg") + 5)).alias("tie_term")))
    j = (s.join(n, ["name", "index"])
         .join(ties, ["name", "index"], "left")
         .withColumn("tie_term", F.coalesce("tie_term", F.lit(0))))
    var_s = ((F.col("n_obs") * (F.col("n_obs") - 1)
              * (2 * F.col("n_obs") + 5) - F.col("tie_term"))
             / F.lit(18.0))
    z = (F.when(F.col("s_stat") > 0,
                (F.col("s_stat") - 1) / F.sqrt(var_s))
         .when(F.col("s_stat") < 0,
               (F.col("s_stat") + 1) / F.sqrt(var_s))
         .otherwise(F.lit(0.0)))
    return (j.select("name", "index", "n_obs", "s_stat",
                     F.round(var_s, 6).alias("var_s"),
                     F.round(z, 6).alias("z_stat"),
                     (F.abs(z) > 1.959964).alias("trend_detected"))
            .orderBy("name", "index"))


QUERIES["series_mann_kendall"] = series_mann_kendall
ORACLES["series_mann_kendall"] = f"""
    WITH m AS ({_METRICS_EVENTS}),
    seq AS (
        SELECT name, index,
               CAST(row_number() OVER (PARTITION BY name, index
                                       ORDER BY evaluationDate)
                    AS BIGINT) AS t,
               CAST(value AS DOUBLE) AS y
        FROM m
    ), s AS (
        SELECT a.name, a.index,
               CAST(sum(CAST(sign(b.y - a.y) AS BIGINT)) AS BIGINT)
                   AS s_stat
        FROM seq a JOIN seq b
          ON a.name = b.name AND a.index = b.index AND a.t < b.t
        GROUP BY 1, 2
    ), n AS (
        SELECT name, index, CAST(count(*) AS BIGINT) AS n_obs
        FROM seq GROUP BY 1, 2
    ), ties AS (
        SELECT name, index,
               CAST(sum(tg * (tg - 1) * (2 * tg + 5)) AS BIGINT)
                   AS tie_term
        FROM (SELECT name, index, y, count(*) AS tg
              FROM seq GROUP BY 1, 2, 3 HAVING count(*) > 1)
        GROUP BY 1, 2
    ), j AS (
        SELECT s.name, s.index, n.n_obs, s.s_stat,
               coalesce(t.tie_term, 0) AS tie_term
        FROM s JOIN n USING (name, index)
        LEFT JOIN ties t USING (name, index)
    )
    SELECT name, index, n_obs, s_stat,
           round((n_obs * (n_obs - 1) * (2 * n_obs + 5) - tie_term)
                 / 18.0, 6) AS var_s,
           round(CASE WHEN s_stat > 0 THEN (s_stat - 1)
                      / sqrt((n_obs * (n_obs - 1) * (2 * n_obs + 5)
                              - tie_term) / 18.0)
                      WHEN s_stat < 0 THEN (s_stat + 1)
                      / sqrt((n_obs * (n_obs - 1) * (2 * n_obs + 5)
                              - tie_term) / 18.0)
                      ELSE 0.0 END, 6) AS z_stat,
           abs(CASE WHEN s_stat > 0 THEN (s_stat - 1)
                    / sqrt((n_obs * (n_obs - 1) * (2 * n_obs + 5)
                            - tie_term) / 18.0)
                    WHEN s_stat < 0 THEN (s_stat + 1)
                    / sqrt((n_obs * (n_obs - 1) * (2 * n_obs + 5)
                            - tie_term) / 18.0)
                    ELSE 0.0 END) > 1.959964 AS trend_detected
    FROM j ORDER BY name, index
"""


def series_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall turning-point randomness test per metric series: count
    local extrema T (a point where consecutive diffs change STRICT
    sign); under i.i.d. randomness E[T] = 2(n−2)/3 and
    Var(T) = (16n − 29)/90 (Kendall & Stuart), z-verdict at 5%.  Too
    FEW turning points = trend/level shifts (the MK/Pettitt reads);
    too MANY = negative lag-1 correlation (over-differencing — the
    check against an auto.arima d overshoot, R:84-95).

    Exactness: T is an exact integer (strict-sign product on the
    6dp-rounded values — plateaus produce a zero product and do not
    count, the documented convention); E and Var are integer ratios;
    one sqrt + one division + 6dp round.

    Scale: two lag windows per series + one grouped aggregate — the
    runs-test envelope."""
    metrics = _metrics(spark, sf_dir)
    from pyspark.sql.window import Window
    w = Window.partitionBy("name", "index").orderBy("evaluationDate")
    seq = (metrics
           .withColumn("d_prev",
                       F.col("value") - F.lag("value", 1).over(w))
           .withColumn("d_next",
                       F.lead("value", 1).over(w) - F.col("value")))
    agg = (seq.groupBy("name", "index")
           .agg(F.count(F.lit(1)).alias("n_obs"),
                F.sum(F.when((F.col("d_prev") * F.col("d_next"))
                             < 0, 1).otherwise(0)).alias("t_count"))
           # the statistic needs an interior point: for n < 3 both
           # E[T] and Var(T) leave their domain (Var < 0 at n = 1 —
           # sqrt would be NaN here but an ERROR in DuckDB, a
           # cross-engine divergence on degenerate series)
           .where(F.col("n_obs") >= 3))
    e_t = 2.0 * (F.col("n_obs") - 2) / F.lit(3.0)
    v_t = (16.0 * F.col("n_obs") - 29) / F.lit(90.0)
    z = (F.col("t_count") - e_t) / F.sqrt(v_t)
    return (agg.select("name", "index", "n_obs", "t_count",
                       F.round(e_t, 6).alias("expected_t"),
                       F.round(z, 6).alias("z_stat"),
                       (F.abs(z) > 1.959964).alias("nonrandom"))
            .orderBy("name", "index"))


QUERIES["series_turning_points"] = series_turning_points
ORACLES["series_turning_points"] = f"""
    WITH m AS ({_METRICS_EVENTS}),
    seq AS (
        SELECT name, index,
               value - lag(value) OVER (PARTITION BY name, index
                                        ORDER BY evaluationDate)
                   AS d_prev,
               lead(value) OVER (PARTITION BY name, index
                                 ORDER BY evaluationDate) - value
                   AS d_next
        FROM m
    ), agg AS (
        SELECT name, index, CAST(count(*) AS BIGINT) AS n_obs,
               CAST(sum(CASE WHEN d_prev * d_next < 0 THEN 1 ELSE 0
                        END) AS BIGINT) AS t_count
        FROM seq GROUP BY 1, 2
        HAVING count(*) >= 3
    )
    SELECT name, index, n_obs, t_count,
           round(2.0 * (n_obs - 2) / 3.0, 6) AS expected_t,
           round((t_count - 2.0 * (n_obs - 2) / 3.0)
                 / sqrt((16.0 * n_obs - 29) / 90.0), 6) AS z_stat,
           abs((t_count - 2.0 * (n_obs - 2) / 3.0)
               / sqrt((16.0 * n_obs - 29) / 90.0)) > 1.959964
               AS nonrandom
    FROM agg ORDER BY name, index
"""
