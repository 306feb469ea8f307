"""Elasticsearch-shaped source (production form of ``search_element``).

The reference reads from Elasticsearch over HTTP
(``TimeSeriesFunctions_GPL_0.5.1.R:16-28``): connection via
``elasticConnection(host, path, user, pwd, port)`` and a query-string
search with source projection / sort / size.  The Spark-native equivalent
is the public ``elasticsearch-spark`` (elasticsearch-hadoop) connector —
not bundled in this container, so this module only *builds* the reader
and degrades to a clear error, keeping the API surface complete.

The parquet test harness path (sources/registry.py) exposes the same
operator semantics; swapping ``es_reader`` in is a one-line change for a
deployment that has the connector jar.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from .registry import MAX_SERIES_LENGTH, _field_for_index, search_element

# Lucene query_string metacharacters (reserved set per the ES docs)
_QS_METACHARS = re.compile(r'([+\-=&|><!(){}\[\]^"~*?:\\/])')


def es_reader(spark: SparkSession, host: str, port: int = 9200,
              user: str | None = None, password: str | None = None,
              ssl: bool = False):
    """DataFrameReader configured like elasticConnection (R:16-21).

    Raises a clear error if the connector jar is absent (this container
    ships no external jars).
    """
    reader = (spark.read.format("org.elasticsearch.spark.sql")
              .option("es.nodes", host)
              .option("es.port", str(port))
              .option("es.net.ssl", str(ssl).lower())
              .option("es.nodes.wan.only", "true"))
    if user:
        reader = (reader.option("es.net.http.auth.user", user)
                  .option("es.net.http.auth.pass", password or ""))
    return reader


def search_element_es(spark: SparkSession, host: str, name: str, index: str,
                      **conn_kwargs) -> DataFrame:
    """searchElement (R:23-40) against a live ES cluster.

    The connector pushes the query-string filter, the 2-field source
    projection, and the sort — the same pushdowns the reference hand-codes
    (R:27-28) and that Catalyst applies to the parquet path.  The sort,
    its ``value`` tiebreak and the 10k cap are ``search_element``'s own,
    so both sources keep the same survivors on every run.
    """
    field = _field_for_index(index)                # R:25-26, one dispatch
    # escape query_string metachars THEN JSON-encode: a name containing
    # quotes/OR/* must neither break the JSON body nor widen the match
    safe_name = _QS_METACHARS.sub(r"\\\1", name)
    body = json.dumps(
        {"query": {"query_string": {"query": f"{field}:{safe_name}"}}})
    reader = es_reader(spark, host, **conn_kwargs)
    try:
        df = (reader
              .option("es.query", body)
              .option("es.read.field.include", "value,evaluationDate")
              .load(index))
    except Exception as exc:
        # only the missing-connector case gets the friendly redirect;
        # genuine query/analysis errors must propagate as themselves
        msg = str(exc)
        if ("Failed to find data source" in msg
                or "ClassNotFoundException" in msg
                or "DATA_SOURCE_NOT_FOUND" in msg):
            raise RuntimeError(
                "elasticsearch-spark connector not available; use the "
                "parquet source (sources.search_element) or add the "
                "connector jar") from exc
        raise
    frame = df.select(F.lit(name).alias("name"), F.lit(index).alias("index"),
                      F.to_date("evaluationDate").alias("evaluationDate"),
                      F.col("value").cast("double").alias("value"))
    return search_element(frame, name, index, limit=MAX_SERIES_LENGTH)
