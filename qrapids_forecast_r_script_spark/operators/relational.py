"""Relational operator surface (SURVEY §2B) as composable query functions.

The reference implements only scan/filter/project/sort/limit
(``TimeSeriesFunctions_GPL_0.5.1.R:23-40``); everything else here is the
engine surface the north-star requires: joins (broadcast + shuffle), hash
aggregation, rollup/cube, windows, set ops, semi/anti joins, JSON, as-of
join.  Every function is pure DataFrame API — no UDFs, no collect — so
Catalyst owns the physical plan (predicate pushdown, column pruning,
broadcast selection, AQE skew handling).

Each query has a DuckDB oracle in ``ORACLES`` with identical column
aliases; doubles are rounded identically on both sides so the driver's
order-insensitive value hash is stable.

Scale notes (100 TB design intent) are on each operator's docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions.scrub import clean_key_col
from ..sources import load_table, events_as_metrics, load_series


# ---------------------------------------------------------------------------
# TPC-H-shaped core
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide hash aggregation over the fact table.

    Scale: single shuffle on a low-cardinality key (returnflag×linestatus);
    map-side partial aggregation makes the shuffle tiny regardless of input
    size.  Filter + 7-column projection push into the parquet scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (li
            .where(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                  .alias("sum_disc_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                               * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
                 F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                 F.count(F.lit(1)).alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective fact-fact join + top-k.

    Scale: orders⋈lineitem is a shuffle join on l_orderkey (both sides
    filtered first — Catalyst pushes the predicates below the join).
    The customer side is NOT force-broadcast: at TPC-H proportions
    customer grows with the fact tables, so the right call at 100 TB is
    to let AQE pick broadcast vs shuffle from the post-filter runtime
    size (the segment filter keeps ~1/5 of customers).  Top-10 is a
    global sort-limit: per-partition top-10 merged on the driver, never a
    full sort of the joined set.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (li
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust.where(F.col("c_mktsegment") == "BUILDING"),
                  orders.o_custkey == F.col("c_custkey"))
            .where(F.col("o_orderdate") < F.lit("1998-03-15"))
            .where(F.col("l_shipdate") > F.lit("1998-03-15"))
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                  .alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
            .limit(10))


def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join across 6 tables.

    Scale: region (5 rows) and nation (25 rows) are CONSTANT-size dims —
    always force-broadcast.  customer/supplier scale with the facts
    (TPC-H proportions), so their join strategy is left to AQE's runtime
    statistics: broadcast at test SFs, shuffle at 100 TB — forcing
    broadcast here would OOM executors at scale.  The region predicate
    prunes through nation→supplier before reaching the facts.
    """
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (li
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(supp,
                  (li.l_suppkey == supp.s_suppkey)
                  & (cust.c_nationkey == supp.s_nationkey))
            .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
            .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                  .alias("revenue"))
            .orderBy(F.col("revenue").desc()))


def top_customers_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ranked window — the scalable form of per-group
    sort+limit (no driver collect, one shuffle on the partition key)."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return (cust
            .withColumn("rank_in_segment", F.row_number().over(w))
            .where(F.col("rank_in_segment") <= 5)
            .select("c_mktsegment", "rank_in_segment", "c_custkey", "c_name",
                    F.round("c_acctbal", 2).alias("acctbal")))


def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregate — subtotals + grand total in one pass (Spark expands
    grouping sets before the single shuffle; no repeated scans)."""
    orders = load_table(spark, sf_dir, "orders")
    return (orders
            .rollup("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("total_price"))
            .orderBy("o_orderstatus", "o_orderpriority"))


def orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregate over status × priority."""
    orders = load_table(spark, sf_dir, "orders")
    return (orders
            .cube("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.avg("o_totalprice"), 4).alias("avg_price")))


def customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join — existence check without row duplication; at scale a
    broadcast/shuffled semi that never materializes the right side."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
            .select("c_custkey", "c_name", "c_mktsegment"))


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join — the NOT EXISTS form."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
            .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal")))


def nations_customers_minus_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops: nation keys present among customers EXCEPT those among
    suppliers (EXCEPT = built-in distinct set-difference)."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"))
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"))
    return cust.subtract(supp)


def nations_customers_or_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops: UNION (distinct) of customer and supplier nation keys —
    completes the EXCEPT/INTERSECT/UNION trio.  union + dropDuplicates
    is Spark's UNION DISTINCT: one hash-dedup shuffle on the key."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"))
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"))
    return cust.union(supp).dropDuplicates()


def nations_customers_and_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops: INTERSECT of customer and supplier nation keys."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"))
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"))
    return cust.intersect(supp)


def part_filter_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pushdown showcase: predicate + 3-column projection reach the parquet
    scan (PushedFilters/ReadSchema) — the engine analog of the reference's
    hand-coded source projection (R:28)."""
    part = load_table(spark, sf_dir, "part")
    return (part
            .where((F.col("p_size") < 15) & F.col("p_type").contains("BRASS"))
            .select("p_partkey", "p_name", "p_size"))


def scrubbed_customer_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's E5 regex scrub + E6 concat as a column expression
    (gsub("[^[:alnum:] ]","",name), R:43) applied to customer names."""
    cust = load_table(spark, sf_dir, "customer")
    return (cust
            .select("c_custkey",
                    clean_key_col("c_name").alias("clean_name"))
            .withColumn("artifact_key",
                        F.concat_ws("_", F.col("clean_name"),
                                    F.lit("metrics"), F.lit("ets"))))


def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date functions: month truncation + per-month aggregates."""
    orders = load_table(spark, sf_dir, "orders")
    return (orders
            .groupBy(F.date_trunc("month", "o_orderdate").alias("order_month"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("month_total"))
            .orderBy("order_month"))


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction: ``props`` is a JSON string column; pull ``k`` out
    with get_json_object (codegen path, no UDF) and aggregate."""
    ev = load_table(spark, sf_dir, "events")
    return (ev
            .withColumn("k", F.get_json_object("props", "$.k").cast("long"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.avg("k"), 4).alias("avg_k"),
                 F.max("k").alias("max_k")))


def events_daily_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions: per-type daily totals with lag-1 and a trailing
    7-row moving average — the feature-engineering layer the NN/Hybrid
    forecast methods consume (SURVEY §2B windows)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
               .agg(F.round(F.sum("value"), 4).alias("daily_value")))
    w = Window.partitionBy("event_type").orderBy("day")
    wroll = w.rowsBetween(-6, 0)
    return (daily
            .withColumn("prev_value", F.lag("daily_value", 1).over(w))
            .withColumn("ma7", F.round(F.avg("daily_value").over(wroll), 4))
            .select("event_type", "day", "daily_value", "prev_value", "ma7"))


def events_asof_last_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: for every purchase event, the most recent prior (or
    simultaneous) error event's timestamp+value for the same user.

    Spark has no asof-join operator; the scalable composition is
    union-tag + last_value window over (user_id, ts): one shuffle, no
    range-explosion, no per-key collect.  This is the operator the engine
    uses to align forecasts with later actuals (SURVEY §2B joins).
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value")
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("err_ts"), F.col("value").alias("err_value"))
    tagged = (purchases
              .select("user_id", "ts", F.col("event_id"), F.col("value"),
                      F.lit(None).cast("timestamp").alias("err_ts"),
                      F.lit(None).cast("double").alias("err_value"),
                      F.lit(1).alias("is_left"))
              .unionByName(
                  errors.select("user_id", F.col("err_ts").alias("ts"),
                                F.lit(None).cast("long").alias("event_id"),
                                F.lit(None).cast("double").alias("value"),
                                "err_ts", "err_value",
                                F.lit(0).alias("is_left"))))
    # right rows sort before left rows at equal ts so "or simultaneous" holds
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts").asc(), F.col("is_left").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (tagged
            .withColumn("last_err_ts", F.last("err_ts", ignorenulls=True).over(w))
            .withColumn("last_err_value",
                        F.last("err_value", ignorenulls=True).over(w))
            .where(F.col("is_left") == 1)
            .select("event_id", "user_id", "ts", "value",
                    "last_err_ts", "last_err_value"))


def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT DISTINCT — exact distinct via partial-agg shuffle; the at-scale
    sibling approx_count_distinct (HLL) is exposed alongside."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n_users"),
                 F.count(F.lit(1)).alias("n_events")))


def series_positional_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's O4 positional-index operator (ts(..., start=0), R:32)
    over the events-derived metric series: row_number-1 per (name, index)
    in date order — the exact Spark form of SURVEY §1.2."""
    ev = load_table(spark, sf_dir, "events")
    return load_series(events_as_metrics(ev))


def search_element_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's scan operator S2 (searchElement, R:23-40) on the
    events-derived metrics table: name+index filter, 2-field projection,
    ascending date sort, 10k cap."""
    from ..sources import search_element
    ev = load_table(spark, sf_dir, "events")
    metrics = events_as_metrics(ev)
    return search_element(metrics, "purchase", "test.metrics.events")


# ---------------------------------------------------------------------------
# Oracles — DuckDB SQL, identical aliases & rounding
# ---------------------------------------------------------------------------

ORACLES: dict[str, str] = {
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_extendedprice), 4) AS avg_price,
               round(avg(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "q3_shipping_priority": """
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate > TIMESTAMP '1998-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """,
    "q5_local_supplier": """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
        ORDER BY revenue DESC
    """,
    "top_customers_per_segment": """
        SELECT c_mktsegment, rank_in_segment, c_custkey, c_name, acctbal
        FROM (
            SELECT c_mktsegment,
                   row_number() OVER (PARTITION BY c_mktsegment
                                      ORDER BY c_acctbal DESC, c_custkey ASC)
                       AS rank_in_segment,
                   c_custkey, c_name, round(c_acctbal, 2) AS acctbal
            FROM customer
        )
        WHERE rank_in_segment <= 5
    """,
    "orders_rollup": """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus, o_orderpriority
    """,
    "orders_cube": """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               round(avg(o_totalprice), 4) AS avg_price
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "customers_with_orders": """
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "customers_without_orders": """
        SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "nations_customers_minus_suppliers": """
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT
        SELECT s_nationkey AS nationkey FROM supplier
    """,
    "nations_customers_or_suppliers": """
        SELECT c_nationkey AS nationkey FROM customer
        UNION
        SELECT s_nationkey AS nationkey FROM supplier
    """,
    "nations_customers_and_suppliers": """
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT s_nationkey AS nationkey FROM supplier
    """,
    "part_filter_projection": """
        SELECT p_partkey, p_name, p_size
        FROM part
        WHERE p_size < 15 AND p_type LIKE '%BRASS%'
    """,
    "scrubbed_customer_keys": """
        SELECT c_custkey,
               regexp_replace(c_name, '[^0-9A-Za-z ]', '', 'g') AS clean_name,
               regexp_replace(c_name, '[^0-9A-Za-z ]', '', 'g')
                   || '_metrics_ets' AS artifact_key
        FROM customer
    """,
    "orders_by_month": """
        SELECT date_trunc('month', o_orderdate) AS order_month,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS month_total
        FROM orders
        GROUP BY 1
        ORDER BY 1
    """,
    "events_json_props": """
        SELECT event_type,
               count(*) AS n_events,
               round(avg(CAST(regexp_extract(props, '"k": (-?\\d+)', 1) AS BIGINT)), 4) AS avg_k,
               max(CAST(regexp_extract(props, '"k": (-?\\d+)', 1) AS BIGINT)) AS max_k
        FROM events
        GROUP BY event_type
    """,
    "events_daily_rolling": """
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   round(sum(value), 4) AS daily_value
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, day, daily_value,
               lag(daily_value, 1) OVER w AS prev_value,
               round(avg(daily_value) OVER (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    """,
    "events_asof_last_error": """
        SELECT p.event_id, p.user_id, p.ts, p.value,
               e.err_ts AS last_err_ts, e.err_value AS last_err_value
        FROM (SELECT event_id, user_id, ts, value FROM events
              WHERE event_type = 'purchase') p
        ASOF LEFT JOIN
             (SELECT user_id, ts AS err_ts, value AS err_value FROM events
              WHERE event_type = 'error') e
        ON p.user_id = e.user_id AND p.ts >= e.err_ts
    """,
    "distinct_users_per_type": """
        SELECT event_type,
               count(DISTINCT user_id) AS n_users,
               count(*) AS n_events
        FROM events
        GROUP BY event_type
    """,
    "series_positional_index": """
        WITH metrics AS (
            SELECT event_type AS name,
                   'test.metrics.events' AS index,
                   CAST(ts AS DATE) AS evaluationDate,
                   round(sum(value), 6) AS value
            FROM events GROUP BY 1, 2, 3
        )
        SELECT name, index,
               CAST(row_number() OVER (PARTITION BY name, index
                    ORDER BY evaluationDate ASC, value ASC) - 1 AS BIGINT) AS t,
               CAST(value AS DOUBLE) AS y
        FROM metrics
        QUALIFY row_number() OVER (PARTITION BY name, index
                ORDER BY evaluationDate ASC, value ASC) <= 10000
    """,
    "search_element_scan": """
        WITH metrics AS (
            SELECT event_type AS name,
                   'test.metrics.events' AS index,
                   CAST(ts AS DATE) AS evaluationDate,
                   round(sum(value), 6) AS value
            FROM events GROUP BY 1, 2, 3
        )
        SELECT name, index, evaluationDate, value
        FROM metrics
        WHERE name = 'purchase' AND index = 'test.metrics.events'
        ORDER BY evaluationDate ASC
        LIMIT 10000
    """,
}

QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier": q5_local_supplier,
    "top_customers_per_segment": top_customers_per_segment,
    "orders_rollup": orders_rollup,
    "orders_cube": orders_cube,
    "customers_with_orders": customers_with_orders,
    "customers_without_orders": customers_without_orders,
    "nations_customers_minus_suppliers": nations_customers_minus_suppliers,
    "nations_customers_and_suppliers": nations_customers_and_suppliers,
    "nations_customers_or_suppliers": nations_customers_or_suppliers,
    "part_filter_projection": part_filter_projection,
    "scrubbed_customer_keys": scrubbed_customer_keys,
    "orders_by_month": orders_by_month,
    "events_json_props": events_json_props,
    "events_daily_rolling": events_daily_rolling,
    "events_asof_last_error": events_asof_last_error,
    "distinct_users_per_type": distinct_users_per_type,
    "series_positional_index": series_positional_index,
    "search_element_scan": search_element_scan,
}
