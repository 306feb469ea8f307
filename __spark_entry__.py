"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All implementations live in ``qrapids_forecast_r_script_spark``; this file
only merges each registered module's one ``QUERIES`` / ``ORACLES`` pair,
in the order of ``MODULES``.
"""

from __future__ import annotations

import importlib
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# The registered modules, in registry order.  Imports are deliberately
# NOT wrapped in try/except: every module ships in-repo, and a broken
# import must fail loud rather than silently drop a module's queries.
MODULES = (
    "operators.dedup",
    "operators.similarity",
    "operators.text",
    "operators.multimodal",
    "operators.pipeline",
    "streaming.queries",
    "streaming.stateful",
    "operators.scale_patterns",
    "operators.product_analytics",
    "sources.formats",
    "operators.curation",
    "operators.text_quality",
    "sources.pyds",
    "forecast.queries",
    "operators.graph",
    "operators.bpe",
    "operators.data_quality",
    "operators.training_prep",
    "operators.udtf_ops",
    "operators.cogroup_ops",
    "operators.assoc_privacy",
    "operators.spectral",
    "operators.linkage",
    "operators.relational",
    "operators.relational_ext",
    "operators.relational_more",
    "operators.tpch_full",
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's end-to-end slice (SURVEY §7) — ETS
    forecast, horizon 14, for every events-derived metric series at
    sf0.001, via the grouped-applyInPandas forecast core."""
    from qrapids_forecast_r_script_spark.flagship import flagship
    return flagship(spark, "/root/testdata/sf0.001")


def _modules():
    return [importlib.import_module(f"qrapids_forecast_r_script_spark.{m}")
            for m in MODULES]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _modules():
        out.update(mod.QUERIES)
    return out


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _modules():
        out.update(mod.ORACLES)
    return out
