"""Fixed StructTypes for every table / result shape the engine touches.

The reference's schema system is fixed (SURVEY §1.6): it assumes ``value``
and ``evaluationDate`` exist on every Elasticsearch document
(``TimeSeriesFunctions_GPL_0.5.1.R:28-36``) — no inference, no evolution.
We mirror that with explicit StructTypes declared once, here.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# The reference's data model (SURVEY §1.1): one row per observation of a
# metric / factor / strategic indicator.  Mirrors the two projected
# Elasticsearch _source fields (R:28) plus the query keys.
# ---------------------------------------------------------------------------
QR_METRICS = StructType([
    StructField("name", StringType()),            # element name (R:25-27)
    StructField("index", StringType()),           # source index name (R:25-26)
    StructField("evaluationDate", DateType()),    # sort key (R:27-28, R:36)
    StructField("value", DoubleType()),           # as.numeric(value) (R:29)
])

# Ordered positional series (SURVEY §1.2): the Spark form of R's
# ``ts(values, frequency, start=0)`` (R:32) — dates become a 0-based
# positional index; calendar gaps are NOT filled (reference quirk 6).
SERIES = StructType([
    StructField("name", StringType()),
    StructField("index", StringType()),
    StructField("t", LongType()),                 # row_number - 1 over date order
    StructField("y", DoubleType()),
])

# ---------------------------------------------------------------------------
# Forecast output (SURVEY §1.4): long-row form of the reference's named list
# of 5 equal-length vectors (R:99-100).  lower1/upper1 = 80% prediction
# interval, lower2/upper2 = 95% (forecast-pkg default level=c(80,95)).
# ---------------------------------------------------------------------------
FORECAST = StructType([
    StructField("name", StringType()),
    StructField("index", StringType()),
    StructField("method", StringType()),
    StructField("step", IntegerType()),           # 1..horizon
    StructField("lower1", DoubleType()),
    StructField("lower2", DoubleType()),
    StructField("mean", DoubleType()),
    StructField("upper1", DoubleType()),
    StructField("upper2", DoubleType()),
])

# ---------------------------------------------------------------------------
# Driver test tables (FIXTURES.md §3) — declared so sources can validate and
# so readers get full pruning without schema inference passes at scale.
# ---------------------------------------------------------------------------
REGION = StructType([
    StructField("r_regionkey", IntegerType()),
    StructField("r_name", StringType()),
])
NATION = StructType([
    StructField("n_nationkey", IntegerType()),
    StructField("n_name", StringType()),
    StructField("n_regionkey", IntegerType()),
])
CUSTOMER = StructType([
    StructField("c_custkey", LongType()),
    StructField("c_name", StringType()),
    StructField("c_nationkey", IntegerType()),
    StructField("c_acctbal", DoubleType()),
    StructField("c_mktsegment", StringType()),
])
SUPPLIER = StructType([
    StructField("s_suppkey", LongType()),
    StructField("s_name", StringType()),
    StructField("s_nationkey", IntegerType()),
    StructField("s_acctbal", DoubleType()),
])
PART = StructType([
    StructField("p_partkey", LongType()),
    StructField("p_name", StringType()),
    StructField("p_brand", StringType()),
    StructField("p_type", StringType()),
    StructField("p_size", IntegerType()),
    StructField("p_retailprice", DoubleType()),
])
ORDERS = StructType([
    StructField("o_orderkey", LongType()),
    StructField("o_custkey", LongType()),
    StructField("o_orderstatus", StringType()),
    StructField("o_totalprice", DoubleType()),
    StructField("o_orderdate", TimestampType()),
    StructField("o_orderpriority", StringType()),
])
LINEITEM = StructType([
    StructField("l_orderkey", LongType()),
    StructField("l_partkey", LongType()),
    StructField("l_suppkey", LongType()),
    StructField("l_linenumber", IntegerType()),
    StructField("l_quantity", DoubleType()),
    StructField("l_extendedprice", DoubleType()),
    StructField("l_discount", DoubleType()),
    StructField("l_tax", DoubleType()),
    StructField("l_returnflag", StringType()),
    StructField("l_linestatus", StringType()),
    StructField("l_shipdate", TimestampType()),
])
EVENTS = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),           # JSON string
])
# physical read schema for events.parquet: ts is TIMESTAMP(NANOS) on disk,
# surfaced as long ns via spark.sql.legacy.parquet.nanosAsLong (session.py)
EVENTS_RAW_NS = StructType([
    StructField("event_id", LongType()),
    StructField("ts", LongType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])
DOCUMENTS = StructType([
    StructField("doc_id", LongType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
    StructField("source", StringType()),
    StructField("n_chars", LongType()),
])
EMBEDDINGS = StructType([
    StructField("vec_id", LongType()),
    StructField("embedding", ArrayType(FloatType())),
    StructField("label", IntegerType()),
])

# Multimodal column convention (north-star extension): opaque payload bytes +
# typed metadata. Decode/extract runs as mapInPandas (operators/multimodal.py).
MEDIA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),            # image | audio | video
    StructField("payload", BinaryType()),
    StructField("meta", MapType(StringType(), StringType())),
])

TABLES = {
    "region": REGION, "nation": NATION, "customer": CUSTOMER,
    "supplier": SUPPLIER, "part": PART, "orders": ORDERS,
    "lineitem": LINEITEM, "events": EVENTS, "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}
