"""Flagship end-to-end slice (SURVEY §7 minimum slice).

"ETS forecast, horizon 14, for every events-derived metric series" —
scan → positional index → grouped fit+forecast → 5-band rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .forecast.api import forecast_batch
from .sources import load_table, events_as_metrics


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    metrics = events_as_metrics(load_table(spark, sf_dir, "events"))
    return forecast_batch(spark, metrics, "ETS", frequency=7, horizon=14)
