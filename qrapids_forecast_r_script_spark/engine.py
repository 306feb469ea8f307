"""Engine facade — the API surface a reference user calls.

Maps 1:1 onto the reference's public entry points
(``TimeSeriesFunctions_GPL_0.5.1.R``):

- ``Engine(spark, data_path)``   ≙ ``elasticConnection`` (R:16-21): session
  setup + connectivity ``ping`` (here: a trivial source read).
- ``available_methods()``        ≙ ``getAvailableMethods`` (R:12-14): the
  identical 10 strings in the identical order (R:6-7).
- ``forecast(...)``              ≙ ``forecast<Method>Wrapper`` (R:104-124 and
  clones): cache-orchestrated fit+forecast for ONE series.
- ``forecast_all(...)``          — batch generalization (SURVEY §2A.4): every
  series in one Spark job; the reference cannot do this.
- ``search_element(...)``        ≙ ``searchElement`` (R:23-40).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


class Engine:
    def __init__(self, spark: SparkSession, metrics: DataFrame,
                 artifact_dir: str | None = None):
        """``metrics`` is a qr_metrics-shaped DataFrame (schemas.QR_METRICS).

        ``artifact_dir`` holds the model store + forecast cache (SURVEY
        §1.5); None disables caching (every call fits fresh).  The store
        is built once here, not per request.
        """
        from .forecast.cache import ForecastStore

        self.spark = spark
        self.metrics = metrics
        self.artifact_dir = artifact_dir
        self.store = ForecastStore(artifact_dir) if artifact_dir else None
        self.ping()

    def ping(self) -> bool:
        """Connectivity check ≙ elastic ping() (R:20)."""
        self.metrics.limit(1).count()
        return True

    @staticmethod
    def available_methods() -> list[str]:
        from .forecast.dispatch import METHODS
        return list(METHODS)

    def search_element(self, name: str, index: str) -> DataFrame:
        from .sources import search_element
        return search_element(self.metrics, name, index)

    def sql(self, query: str) -> DataFrame:
        """Raw Spark SQL over the session's views, ``metrics`` registered
        first."""
        self.metrics.createOrReplaceTempView("metrics")
        return self.spark.sql(query)

    def forecast(self, name: str, index: str, method: str,
                 frequency: int = 7, horizon: int = 14,
                 force_seasonality: bool = False) -> DataFrame:
        """Single-series cache-orchestrated forecast (wrapper semantics
        §2A.6). Returns FORECAST-schema rows, steps 1..horizon."""
        from .forecast.api import forecast_one
        return forecast_one(self, name, index, method, frequency, horizon,
                            force_seasonality)

    def forecast_all(self, method: str, frequency: int = 7,
                     horizon: int = 14) -> DataFrame:
        """Batch mode: every (name, index) series in one grouped-UDF job.
        HYBRID/BAGGEDETS auto-dispatch to their straggler fan-outs above
        ``forecast.api.FANOUT_POINT_THRESHOLD`` points (SCALE.md)."""
        from .forecast.api import forecast_batch
        return forecast_batch(self.spark, self.metrics, method, frequency,
                              horizon)
