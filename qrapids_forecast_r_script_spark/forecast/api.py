"""Forecast API: grouped-UDF batch mode + cache-orchestrated single series.

The reference processes one series per call (SURVEY §2A.4); the engine
generalizes to ``forecast_batch``: ``groupBy(name, index).applyInPandas``
— one pandas group == one reference invocation, fanned out across
executors.  At 100 TB this is the whole point: millions of independent
series become embarrassingly parallel tasks; the only shuffle is the hash
partition on the series key, and Arrow batches the transfer.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import schemas
from ..sources.registry import MAX_SERIES_LENGTH
from .dispatch import fit_method, forecast_fitted

_FORECAST_KEYS = ["lower1", "lower2", "mean", "upper1", "upper2"]


def forecast_rows(name: str, index: str, method: str, bands: dict) -> pd.DataFrame:
    """The shared 5-vector → long-rows constructor (R:97-102 and clones)."""
    horizon = len(bands["mean"])
    return pd.DataFrame({
        "name": name, "index": index, "method": method,
        "step": np.arange(1, horizon + 1, dtype=np.int32),
        **{k: np.asarray(bands[k], dtype=float) for k in _FORECAST_KEYS},
    })[["name", "index", "method", "step"] + _FORECAST_KEYS]


# anything outside DEGENERATE_ERRORS (AttributeError, KeyError, …) is a
# programming error and must kill the job loudly, not be silently
# converted to NaN output across millions of series.
from .models.common import DEGENERATE_ERRORS as _DEGENERATE_ERRORS


def prepare_series(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic series prep shared by the batch and cached
    single-series paths: STABLE sort with the same (evaluationDate,
    value) tiebreak as ``sources.load_series`` and the DuckDB oracles —
    duplicate-date rows otherwise arrive in shuffle order and pandas'
    default unstable sort would make the y ordering (and the 10k-cap
    survivor set, R:28) differ run to run, breaking output hash
    stability — then the cap.  Returns (y, ds_days)."""
    if len(pdf) > MAX_SERIES_LENGTH:
        # reference quirk 7 (R:28): the cap is kept for parity, but never
        # silently — the engine's no-silent-caps rule
        import logging
        logging.getLogger(__name__).warning(
            "series (%s, %s) has %d points; truncating to the reference's "
            "10k cap (R:28)", pdf["name"].iloc[0], pdf["index"].iloc[0],
            len(pdf))
    pdf = (pdf.sort_values(["evaluationDate", "value"], kind="mergesort")
           .head(MAX_SERIES_LENGTH))
    y = pdf["value"].to_numpy(dtype=float)
    ds_days = (pd.to_datetime(pdf["evaluationDate"]).values
               .astype("datetime64[D]").astype(int))
    return y, ds_days


def fit_and_forecast_pdf(pdf: pd.DataFrame, method: str, frequency: int,
                         horizon: int) -> pd.DataFrame:
    """One series group → forecast rows.  Runs in the executor's Python
    worker via Arrow; deterministic sort + the reference's 10k cap
    (R:28) inside the group."""
    name = str(pdf["name"].iloc[0])
    index = str(pdf["index"].iloc[0])
    y, ds_days = prepare_series(pdf)
    seed_key = (name, index, method)

    def bands():
        model = fit_method(method, y, frequency, ds_days=ds_days,
                           horizon=horizon, seed_key=seed_key)
        return forecast_fitted(model, horizon, seed_key=seed_key)

    return forecast_or_nan(name, index, method, horizon, bands)


def forecast_or_nan(name: str, index: str, method: str, horizon: int,
                    bands) -> pd.DataFrame:
    """Forecast rows from ``bands()``, shared by the single-task path
    and the fan-outs' per-series combine."""
    try:
        out = bands()
    except _DEGENERATE_ERRORS as exc:
        # degenerate series: emit NaN bands rather than killing the job,
        # but leave a trace in executor logs
        import logging
        logging.getLogger(__name__).warning(
            "forecast failed for series (%s, %s, %s): %r — emitting NaN",
            name, index, method, exc)
        nan = np.full(horizon, np.nan)
        out = {k: nan for k in _FORECAST_KEYS}
    return forecast_rows(name, index, method, out)


# Series-length threshold where the HYBRID/BAGGEDETS fan-outs beat the
# single-task-per-series fit (SCALE.md "fan-out dispatch"): below ~5k
# points a whole fit is seconds and the fan-out's extra shuffles+
# checkpoint dominate; above it the single task becomes the stage-
# straggler the fan-outs exist to kill (359 s / 567 s at the 10k cap).
FANOUT_POINT_THRESHOLD = 5_000


def forecast_batch(spark: SparkSession, metrics: DataFrame, method: str,
                   frequency: int = 7, horizon: int = 14) -> DataFrame:
    """Every (name, index) series in one job.

    Scale notes: one shuffle (hash partition by series key); each task
    fits exactly one series (≤10k points — bounded memory by the
    reference's own cap, R:28); skewed numbers of series per executor are
    handled by AQE partition coalescing.

    HYBRID/BAGGEDETS straggler dispatch (the 100×-scale path is the
    default path): one cheap JVM count-per-series aggregation decides —
    if the longest series has ≥ ``FANOUT_POINT_THRESHOLD`` points, route
    through ``hybrid_fanout_batch`` / ``bagged_fanout_batch`` (exact-
    parity drop-ins, tests/test_*_fanout.py); else the single-task-per-
    series fit below, whose whole fit at small n is cheaper than the
    fan-out's extra shuffles.  Other methods have no fan-out: their
    single-series fits are not stage stragglers.
    """
    method_u = method.upper()
    freq, hor = int(frequency), int(horizon)
    if method_u in ("HYBRID", "BAGGEDETS"):
        longest = (metrics.groupBy("name", "index").count()
                   .agg(F.max("count")).first()[0])
        if (longest or 0) >= FANOUT_POINT_THRESHOLD:
            if longest > MAX_SERIES_LENGTH:
                # the fan-outs cap JVM-side (hybrid_fanout._assemble_series),
                # where no per-series warning can be logged; the cap is
                # never silent, so say it here once per batch
                import logging
                logging.getLogger(__name__).warning(
                    "%s batch: longest series has %d points; truncating "
                    "every series over the reference's %d-point cap "
                    "(R:28)", method_u, longest, MAX_SERIES_LENGTH)
            if method_u == "HYBRID":
                from .hybrid_fanout import hybrid_fanout_batch
                return hybrid_fanout_batch(spark, metrics, freq, hor)
            from .bagged_fanout import bagged_fanout_batch
            return bagged_fanout_batch(spark, metrics, freq, hor)

    def apply_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return fit_and_forecast_pdf(pdf, method_u, freq, hor)

    # EXPLICIT repartition on the group key: the shuffled series bytes
    # are tiny, so AQE's size-based coalescing collapses the exchange to
    # ONE partition and serializes the fits — but this stage is
    # CPU-bound per group (an ARIMA grid fit is seconds of numpy per
    # series), not data-bound.  A user-specified repartition is exempt
    # from AQE coalescing and groupBy on the same keys reuses it (still
    # exactly one shuffle).  Measured at sf0.01: BAGGEDETS over 5 series
    # 30.8 s → ~7 s; the width follows spark.sql.shuffle.partitions, so
    # a real cluster fans out to its own core count.  Results are
    # partitioning-invariant (each group fits alone; hash checks are
    # order-insensitive).
    from ..session import shuffle_width
    return (metrics
            .repartition(shuffle_width(spark), "name", "index")
            .groupBy("name", "index")
            .applyInPandas(apply_fn, schema=schemas.FORECAST))


def forecast_one(engine, name: str, index: str, method: str,
                 frequency: int = 7, horizon: int = 14,
                 force_seasonality: bool = False) -> DataFrame:
    """Single-series path with the reference's wrapper orchestration
    (§2A.6) through the engine's store when it has an artifact_dir, else a
    direct fit."""
    method_u = method.upper()
    if method_u == "ARIMA" and force_seasonality:
        # ifelse(forceSeasonality, 'ARIMA_FORCE_SEASONALITY', 'ARIMA') (R:105)
        method_u = "ARIMA_FORCE_SEASONALITY"
    from ..sources import search_element
    spark = engine.spark

    def compute_series():
        # one row past the cap, so prepare_series sees an over-long
        # series and warns before truncating (never cap silently)
        pdf = (search_element(engine.metrics, name, index,
                              limit=MAX_SERIES_LENGTH + 1)
               .toPandas())
        if pdf.empty:
            raise ValueError(f"no data for series ({name!r}, {index!r})")
        return pdf

    if engine.store is None:
        pdf = compute_series()
        rows = fit_and_forecast_pdf(pdf, method_u, frequency, horizon)
        return spark.createDataFrame(rows, schema=schemas.FORECAST)
    rows = engine.store.forecast_with_cache(name, index, method_u, frequency,
                                            horizon, compute_series)
    return spark.createDataFrame(rows, schema=schemas.FORECAST)
