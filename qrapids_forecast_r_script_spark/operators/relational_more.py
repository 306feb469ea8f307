"""Fourth relational tranche: GROUPING SETS, pivot/unpivot, exact +
approximate percentiles, and an interval self-join executed with the
bin-and-refine pattern — the remaining SURVEY §2B checklist surfaces.

Scale notes per query in the docstrings; everything stays JVM-side
(no Python UDFs anywhere in this module).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions import md5_int
from ..sources import load_table

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_RANGE_SECONDS = 300   # ±5 min window for the range join


def orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((status, priority), (status), ()) with
    per-column GROUPING() markers — the general form of which rollup and
    cube (covered elsewhere) are special cases.  One shuffle: Spark
    expands the sets map-side then aggregates once."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_gs_v")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               grouping(o_orderstatus)  AS g_status,
               grouping(o_orderpriority) AS g_priority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders_gs_v
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
    """)


def events_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one row per day, one column per event type (explicit value
    list → no extra distinct-scan job, and a stable schema — mandatory at
    scale, where an implicit pivot would first shuffle to enumerate
    types)."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.withColumn("day", F.to_date("ts"))
            .groupBy("day")
            .pivot("event_type", EVENT_TYPES)
            .agg(F.round(F.sum("value"), 4))
            .orderBy("day"))


def events_unpivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) the wide daily frame back to long form — Spark's
    built-in ``unpivot`` (UNION-ALL expansion under the hood, map-side
    only).  Null cells (day × type with no events) are dropped to match
    the direct long-form aggregate."""
    wide = events_pivot_daily(spark, sf_dir)
    return (wide.unpivot("day", EVENT_TYPES, "event_type", "total_value")
            .where(F.col("total_value").isNotNull()))


def value_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (median / p90 / p99) of event value per type —
    Spark's ``percentile`` with linear interpolation, the same definition
    as SQL ``quantile_cont``.  Exact percentile requires a per-group sort;
    fine per-type, see the approx variant for the 100 TB path."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
                 F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
                 F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"))
            .orderBy("event_type"))


def value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path for percentiles: ``approx_percentile`` (KLL-style
    mergeable sketch, accuracy 1/10000) — no per-group sort, partial
    aggregation map-side, constant memory per group.  Sketch results are
    engine-specific → rows-only driver check; accuracy vs the exact
    form is asserted in tests."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.approx_percentile(
                     "value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)),
                     F.lit(10000))[0], 4).alias("p50"),
                 F.round(F.approx_percentile(
                     "value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)),
                     F.lit(10000))[1], 4).alias("p90"),
                 F.round(F.approx_percentile(
                     "value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)),
                     F.lit(10000))[2], 4).alias("p99"))
            .orderBy("event_type"))


def distinct_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch path for COUNT(DISTINCT): HyperLogLog++ via
    ``approx_count_distinct`` (rsd 1%) per event_type.  Exact distinct
    needs a shuffle of every distinct (type, user) pair; the HLL sketch
    is a fixed ~kB register set per group, merged map-side — at 100 TB
    the difference between a terabyte-scale shuffle and a broadcast-sized
    one.  Sketch estimates are engine-specific → rows-only driver check;
    the ±5% accuracy vs exact is asserted in tests (rsd 1% ⇒ well
    inside)."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.approx_count_distinct("user_id", 0.01)
                 .alias("approx_users"))
            .orderBy("event_type"))


def events_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch anomaly detection: per event type, count events whose value
    lies beyond ±3σ of that type's mean (population stddev).  Two passes
    expressed as one plan: the per-type moments aggregate (tiny) is
    broadcast-joined back onto the stream of rows — no window over the
    full table, so nothing is sorted and both stages partial-aggregate.
    The streaming analog (running Welford state) is
    ``streaming/stateful.py``; this is its exact batch oracle shape."""
    ev = load_table(spark, sf_dir, "events")
    stats = (ev.groupBy("event_type")
             .agg(F.avg("value").alias("mu"),
                  F.stddev_pop("value").alias("sigma")))
    return (ev.join(F.broadcast(stats), "event_type")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum((F.abs(F.col("value") - F.col("mu"))
                        > 3 * F.col("sigma")).cast("int"))
                  .alias("n_outliers"))
            .orderBy("event_type"))


def orders_decimal_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decimal aggregation: order totals cast to DECIMAL(12,2) and
    summed per status — the money path.  Float sums drift with partition
    count / add order (a real hazard when re-partitioning at scale);
    decimal sums are exact and associative, so the result is identical
    on any cluster layout.  Cast back to double only for the final
    comparison surface."""
    orders = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(12,2)")
    return (orders.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(dec).cast("double").alias("exact_total"))
            .orderBy("o_orderstatus"))


def events_user_30min_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval RANGE window frame: per user and event, how many of that
    user's events fall in the trailing 30 minutes (inclusive).  Unlike
    ROWS frames (fixed row counts), RANGE frames are value-based — the
    correct semantics for time windows over irregular event streams.
    One shuffle on user_id; the frame scan is per-partition."""
    ev = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts").cast("long"))
         .rangeBetween(-1800, 0))
    return (ev.select("event_id", "user_id",
                      F.count(F.lit(1)).over(w).alias("n_last_30min"))
            .orderBy("event_id"))


def deterministic_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~10% sample of orders via content hashing (md5 of the
    key, mod 10), aggregated per order status.

    At scale, sampling MUST be hash-based, never ``rand()``: task retries
    and AQE re-execution re-roll random numbers (silent row drift),
    while a key hash picks the same rows on every run, executor, and
    engine — which is also why this query is exactly oracle-checkable.
    """
    orders = load_table(spark, sf_dir, "orders")
    bucket = md5_int(F.col("o_orderkey").cast("string")) % 10
    return (orders.where(bucket == 0)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_sampled"),
                 F.round(F.sum("o_totalprice"), 2).alias("sampled_price"))
            .orderBy("o_orderstatus"))


def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values per type (bin width 10).
    Binning is a map-side expression + one hash agg on (type, bin) — the
    constant-memory way to profile a 100 TB column, vs exact percentiles
    which need per-group sorts."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.select("event_type",
                      F.floor(F.col("value") / 10).cast("long").alias("bin"))
            .groupBy("event_type", "bin")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("bin_lo", (F.col("bin") * 10).cast("double"))
            .orderBy("event_type", "bin"))


def events_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval self-join: for each error event, count same-user events of
    other types within ±5 minutes.

    Naive form is an inequality join — O(n²) per user, a broadcast
    nested-loop at scale.  Executed here with bin-and-refine: both sides
    get a 300 s time bucket, each probe row explodes to its bucket ±1
    (bounded 3× blow-up), the join is a plain equi-join on
    (user_id, bucket), and the exact |Δt| ≤ 300 predicate refines the
    candidates.  Equi-join → shuffle-hash/sort-merge partitioned by
    (user, bucket) — this is THE scalable range-join pattern when one
    side can't be broadcast.
    """
    ev = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    bucket = F.floor(sec / _RANGE_SECONDS)
    errors = (ev.where(F.col("event_type") == "error")
              .select(F.col("event_id").alias("error_id"),
                      F.col("user_id"), sec.alias("err_sec"),
                      F.explode(F.array(bucket - 1, bucket, bucket + 1))
                       .alias("bucket")))
    others = (ev.where(F.col("event_type") != "error")
              .select(F.col("user_id"), sec.alias("other_sec"),
                      bucket.alias("bucket")))
    return (errors.join(others, ["user_id", "bucket"])
            .where(F.abs(F.col("other_sec") - F.col("err_sec"))
                   <= _RANGE_SECONDS)
            .groupBy("error_id")
            .agg(F.count(F.lit(1)).alias("n_nearby"))
            .orderBy("error_id"))


def user_series_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densify + forward fill for per-user daily series (146 of
    150 sf0.01 user series have date holes): per user, generate the full
    min→max date range (``sequence`` + ``explode``, map-side), left-join
    the actuals back, and forward-fill with ``last(value, ignorenulls)``.

    The reference deliberately does NOT gap-fill (SURVEY quirk 6 — its
    ts is positional), so this is engine-extension surface: the
    regularization step a calendar-aware pipeline needs.  Scale: the
    explode is proportional to span×users, the join and window both
    partition by user_id — one shuffle total.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy("user_id", F.to_date("ts").alias("d"))
             .agg(F.round(F.sum("value"), 6).alias("value")))
    cal = (daily.groupBy("user_id")
           .agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
           .select("user_id",
                   F.explode(F.sequence("d0", "d1")).alias("d")))
    w = (Window.partitionBy("user_id").orderBy("d")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (cal.join(daily, ["user_id", "d"], "left")
            .select("user_id", "d",
                    F.col("value").isNull().alias("was_gap"),
                    F.last("value", ignorenulls=True).over(w)
                     .alias("value_filled")))


def building_vs_big_orders_full_outer(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """FULL OUTER join coverage (the one join type the r1 surface lacked):
    BUILDING-segment customers ⟗ per-customer high-value order
    aggregates.  Both sides have unmatched rows (BUILDING customers with
    no big orders; big-order customers outside BUILDING), exercising
    null-fill on each side + coalesce key normalization.  Plan: two
    pruned scans, one shuffle per side on the join key, SMJ (full outer
    cannot broadcast)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (orders.where(F.col("o_totalprice") > 150000)
           .groupBy("o_custkey")
           .agg(F.count(F.lit(1)).alias("n_big_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("big_total")))
    bld = (cust.where(F.col("c_mktsegment") == "BUILDING")
           .select("c_custkey", "c_name"))
    return (bld.join(big, bld.c_custkey == big.o_custkey, "full_outer")
            .select(
                F.coalesce(F.col("c_custkey"), F.col("o_custkey"))
                .alias("custkey"),
                F.when(F.col("c_custkey").isNotNull(), F.lit("BUILDING"))
                .otherwise(F.lit("OTHER")).alias("segment_bucket"),
                F.coalesce(F.col("n_big_orders"), F.lit(0))
                .alias("n_big_orders"),
                F.round(F.coalesce(F.col("big_total"), F.lit(0.0)), 2)
                .alias("big_total")))


def events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON via Spark 4's VARIANT type: ``parse_json``
    turns the ``props`` string into a binary variant once at scan time,
    and ``variant_get`` does typed path extraction on the encoded form.

    Complements :func:`relational.events_json_props` (get_json_object on
    the raw string): at 100 TB, variant wins when several fields are
    extracted from the same document — the JSON is parsed ONCE into the
    shredded binary encoding instead of re-tokenized per
    get_json_object call, and extraction is a typed offset lookup.  The
    whole path is codegen, zero Python.
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.withColumn("v", F.parse_json("props"))
    k = F.variant_get("v", "$.k", "long")
    return (v.withColumn("k", k)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.when(F.col("k") >= 50, 1).otherwise(0))
                  .cast("long").alias("n_high_k"),
                 F.min("k").alias("min_k"),
                 F.max("k").alias("max_k"))
            .orderBy("event_type"))


def customer_top_orders_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join (per-customer top-3 orders by price) —
    the SQL-standard form of groupwise top-k, supported natively by
    Spark's DecorrelateInnerQuery: the correlated ORDER BY+LIMIT
    subquery rewrites to a ranked window over a single shuffle of the
    orders side, so the plan is identical to the hand-written
    ``row_number`` form (`top_customers_per_segment`) — declare the
    intent, let Catalyst decorrelate.  Tiebreak on o_orderkey keeps the
    top-3 set total, hence hash-stable.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql("""
        SELECT c.c_custkey, t.o_orderkey,
               round(t.o_totalprice, 2) AS o_totalprice
        FROM customer c JOIN LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
        WHERE c.c_mktsegment = 'BUILDING'
    """)


QUERIES = {
    "orders_grouping_sets": orders_grouping_sets,
    "building_vs_big_orders_full_outer": building_vs_big_orders_full_outer,
    "user_series_gapfill": user_series_gapfill,
    "events_pivot_daily": events_pivot_daily,
    "events_unpivot_daily": events_unpivot_daily,
    "value_percentiles_by_type": value_percentiles_by_type,
    "value_percentiles_approx": value_percentiles_approx,   # rows-only: sketch
    "distinct_users_hll": distinct_users_hll,               # rows-only: sketch
    "events_zscore_outliers": events_zscore_outliers,
    "orders_decimal_totals": orders_decimal_totals,
    "events_user_30min_rolling": events_user_30min_rolling,
    "deterministic_sample_orders": deterministic_sample_orders,
    "events_value_histogram": events_value_histogram,
    "events_range_join_binned": events_range_join_binned,
    "events_variant_props": events_variant_props,
    "customer_top_orders_lateral": customer_top_orders_lateral,
}

_PIVOT_SQL = """
    SELECT CAST(ts AS DATE) AS day,
           round(sum(value) FILTER (event_type = 'click'), 4)    AS click,
           round(sum(value) FILTER (event_type = 'error'), 4)    AS error,
           round(sum(value) FILTER (event_type = 'purchase'), 4) AS purchase,
           round(sum(value) FILTER (event_type = 'signup'), 4)   AS signup,
           round(sum(value) FILTER (event_type = 'view'), 4)     AS view
    FROM events
    GROUP BY 1 ORDER BY 1
"""

ORACLES = {
    "building_vs_big_orders_full_outer": """
        WITH big AS (
            SELECT o_custkey, count(*) AS n_big_orders,
                   round(sum(o_totalprice), 2) AS big_total
            FROM orders WHERE o_totalprice > 150000
            GROUP BY 1
        ), bld AS (
            SELECT c_custkey, c_name FROM customer
            WHERE c_mktsegment = 'BUILDING'
        )
        SELECT coalesce(c_custkey, o_custkey) AS custkey,
               CASE WHEN c_custkey IS NOT NULL THEN 'BUILDING'
                    ELSE 'OTHER' END AS segment_bucket,
               coalesce(n_big_orders, 0) AS n_big_orders,
               round(coalesce(big_total, 0.0), 2) AS big_total
        FROM bld FULL OUTER JOIN big ON c_custkey = o_custkey
    """,
    "orders_grouping_sets": """
        SELECT o_orderstatus, o_orderpriority,
               grouping(o_orderstatus)  AS g_status,
               grouping(o_orderpriority) AS g_priority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
    """,
    "events_pivot_daily": _PIVOT_SQL,
    "events_unpivot_daily": """
        SELECT CAST(ts AS DATE) AS day, event_type,
               round(sum(value), 4) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    "value_percentiles_by_type": """
        SELECT event_type, count(*) AS n,
               round(CAST(quantile_cont(value, 0.5)  AS DOUBLE), 4) AS p50,
               round(CAST(quantile_cont(value, 0.9)  AS DOUBLE), 4) AS p90,
               round(CAST(quantile_cont(value, 0.99) AS DOUBLE), 4) AS p99
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "user_series_gapfill": """
        WITH daily AS (
            SELECT user_id, CAST(ts AS DATE) AS d,
                   round(sum(value), 6) AS value
            FROM events GROUP BY 1, 2
        ), cal AS (
            SELECT user_id,
                   CAST(unnest(generate_series(min(d), max(d),
                                               INTERVAL 1 DAY)) AS DATE) AS d
            FROM daily GROUP BY user_id
        )
        SELECT c.user_id, c.d,
               dl.value IS NULL AS was_gap,
               last_value(dl.value IGNORE NULLS) OVER (
                   PARTITION BY c.user_id ORDER BY c.d
                   ROWS UNBOUNDED PRECEDING) AS value_filled
        FROM cal c LEFT JOIN daily dl
          ON dl.user_id = c.user_id AND dl.d = c.d
    """,
    "events_zscore_outliers": """
        WITH stats AS (
            SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sigma
            FROM events GROUP BY 1
        )
        SELECT e.event_type,
               count(*) AS n_events,
               CAST(sum(CASE WHEN abs(e.value - s.mu) > 3 * s.sigma
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM events e JOIN stats s USING (event_type)
        GROUP BY 1 ORDER BY 1
    """,
    "orders_decimal_totals": """
        SELECT o_orderstatus,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS exact_total
        FROM orders
        GROUP BY 1 ORDER BY 1
    """,
    "events_user_30min_rolling": """
        SELECT event_id, user_id,
               count(*) OVER (PARTITION BY user_id
                              ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                              RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW)
                   AS n_last_30min
        FROM events
        ORDER BY event_id
    """,
    "deterministic_sample_orders": """
        SELECT o_orderstatus,
               count(*) AS n_sampled,
               round(sum(o_totalprice), 2) AS sampled_price
        FROM orders
        WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
              % 10 = 0
        GROUP BY 1 ORDER BY 1
    """,
    "events_value_histogram": """
        SELECT event_type,
               CAST(floor(value / 10) AS BIGINT) AS bin,
               count(*) AS n,
               CAST(CAST(floor(value / 10) AS BIGINT) * 10.0 AS DOUBLE)
                   AS bin_lo
        FROM events
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "events_range_join_binned": f"""
        SELECT e.event_id AS error_id, count(*) AS n_nearby
        FROM events e
        JOIN events o ON o.user_id = e.user_id
                     AND o.event_type <> 'error'
                     AND abs(epoch(o.ts) - epoch(e.ts)) <= {_RANGE_SECONDS}
        WHERE e.event_type = 'error'
        GROUP BY 1 ORDER BY 1
    """,
    "customer_top_orders_lateral": """
        SELECT c.c_custkey, t.o_orderkey,
               round(t.o_totalprice, 2) AS o_totalprice
        FROM customer c, LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
        WHERE c.c_mktsegment = 'BUILDING'
    """,
    "events_variant_props": """
        SELECT event_type,
               count(*) AS n_events,
               CAST(sum(CASE WHEN CAST(props->>'$.k' AS BIGINT) >= 50
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_high_k,
               min(CAST(props->>'$.k' AS BIGINT)) AS min_k,
               max(CAST(props->>'$.k' AS BIGINT)) AS max_k
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
}


def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per calendar month — the BI
    staple missing from the TPC-H shapes (they compare segments and
    date RANGES, not the same month across years): monthly revenue in
    exact integer cents, YoY ratio via a lag window PARTITIONED BY
    month-of-year ordered by year, so each month compares to itself
    one year earlier (insulated from seasonality, the whole point of
    YoY).  Orders span 1995-2001, so every month from 1996 on has a
    comparison row.

    One month-keyed aggregate with map-side combine + one window over
    |years| rows per month-of-year — the cheapest possible shape; the
    growth division is a single op on exact cents."""
    from pyspark.sql.window import Window
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    g = (orders.groupBy(F.year("o_orderdate").alias("yr"),
                        F.month("o_orderdate").alias("mo"))
         .agg(F.sum(cents).alias("revenue_cents")))
    w = Window.partitionBy("mo").orderBy("yr")
    prev = F.lag("revenue_cents").over(w)
    return (g.select("yr", "mo", "revenue_cents",
                     prev.alias("prev_year_cents"),
                     F.round(F.col("revenue_cents").cast("double")
                             / prev.cast("double")
                             - F.lit(1.0), 6).alias("yoy_growth"))
            .orderBy("yr", "mo"))


ORACLES["orders_yoy_growth"] = """
    WITH g AS (
        SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
               CAST(month(o_orderdate) AS INTEGER) AS mo,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM orders GROUP BY 1, 2
    )
    SELECT yr, mo, revenue_cents,
           lag(revenue_cents) OVER w AS prev_year_cents,
           round(CAST(revenue_cents AS DOUBLE)
                 / CAST(lag(revenue_cents) OVER w AS DOUBLE)
                 - CAST(1 AS DOUBLE), 6) AS yoy_growth
    FROM g
    WINDOW w AS (PARTITION BY mo ORDER BY yr)
    ORDER BY yr, mo
"""
QUERIES["orders_yoy_growth"] = orders_yoy_growth


# One dialect-neutral ANSI text, executed VERBATIM by both engines —
# the engine-surface proof that the SQL-string API (not just the
# DataFrame DSL) is a first-class way in (SURVEY §2B scans row).
_SQL_REVENUE_REPORT = """
    WITH g AS (
        SELECT c_mktsegment AS segment,
               CAST(year(o_orderdate) AS INTEGER) AS yr,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS revenue_cents,
               count(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    )
    SELECT segment, yr, revenue_cents, n_orders,
           CAST(rank() OVER (PARTITION BY yr
                             ORDER BY revenue_cents DESC) AS INTEGER)
               AS seg_rank
    FROM g ORDER BY yr, segment
"""


def sql_api_revenue_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``spark.sql`` surface exercised end-to-end with ONE
    dialect-neutral ANSI string — the exact text below IS the DuckDB
    oracle, so the driver's hash equality proves the two engines parse,
    plan, and execute the same SQL to the same bytes (every other
    query pins DataFrame-DSL ↔ SQL parity; this one pins SQL ↔ SQL).
    Catalyst treats the registered temp views exactly like DataFrame
    sources — same pushdown, same broadcast of the customer side, same
    whole-stage codegen — which is the point: the SQL-string API is
    not a second-class path."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "customer") \
        .createOrReplaceTempView("customer")
    return spark.sql(_SQL_REVENUE_REPORT)


ORACLES["sql_api_revenue_report"] = _SQL_REVENUE_REPORT
QUERIES["sql_api_revenue_report"] = sql_api_revenue_report


def rfm_quartile_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic RFM quartile segmentation (Hughes 1994 — the marketing
    warehouse staple): per customer, Recency (days from last order to
    the corpus max date), Frequency (order count), Monetary (exact
    cents), each quartiled by ntile(4) with deterministic custkey
    tiebreaks (R ascending so quartile 1 = most recent; F/M
    descending so quartile 1 = best), then the 4x4x4 segment grid
    with population and average spend — '111' is the champions cell,
    '444' the lost cell.

    Exactness: all three features are exact integers; ntile on
    (feature, custkey) is a total order, so quartile assignment can
    never flip across engines or partitionings; the average spend is
    rounded half-up to the cent in integers, (2 sum + n) div (2 n),
    so a half-cent tie has one stated rule instead of each engine's
    double rounding.  Scale: one customer-keyed aggregate + three
    DISTRIBUTED exact-ntile passes (``operators.ranked.exact_ntile``,
    r9: the two-pass rank decomposition — range exchange +
    per-partition counts + broadcast offsets — replacing the three
    single-task customer-grain global windows) + one tiny grid
    aggregate."""
    from qrapids_forecast_r_script_spark.operators.ranked import exact_ntile
    orders = load_table(spark, sf_dir, "orders")
    maxd = orders.agg(F.max("o_orderdate").alias("maxd"))
    per = (orders.groupBy("o_custkey")
           .agg(F.max("o_orderdate").alias("last_order"),
                F.count(F.lit(1)).alias("frequency"),
                F.sum(F.round(F.col("o_totalprice") * 100, 0)
                      .cast("long")).alias("monetary_cents"))
           .crossJoin(F.broadcast(maxd))
           .select("o_custkey",
                   F.datediff("maxd", "last_order").cast("long")
                   .alias("recency_days"),
                   "frequency", "monetary_cents"))
    scored = exact_ntile(per, 4,
                         [F.col("recency_days"), F.col("o_custkey")],
                         "r_q")
    scored = exact_ntile(scored, 4,
                         [F.col("frequency").desc(), F.col("o_custkey")],
                         "f_q")
    scored = exact_ntile(scored, 4,
                         [F.col("monetary_cents").desc(),
                          F.col("o_custkey")],
                         "m_q")
    return (scored.groupBy("r_q", "f_q", "m_q")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 (F.expr("(2 * sum(monetary_cents) + count(1)) "
                         "div (2 * count(1))").cast("double") / 100)
                 .alias("avg_spend"))
            .orderBy("r_q", "f_q", "m_q"))


ORACLES["rfm_quartile_segments"] = """
    WITH maxd AS (SELECT max(o_orderdate) AS maxd FROM orders),
    per AS (
        SELECT o_custkey,
               CAST(datediff('day', max(o_orderdate),
                             (SELECT maxd FROM maxd)) AS BIGINT)
                   AS recency_days,
               count(*) AS frequency,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS monetary_cents
        FROM orders GROUP BY 1
    ), scored AS (
        SELECT *,
               ntile(4) OVER (ORDER BY recency_days, o_custkey) AS r_q,
               ntile(4) OVER (ORDER BY frequency DESC, o_custkey)
                   AS f_q,
               ntile(4) OVER (ORDER BY monetary_cents DESC, o_custkey)
                   AS m_q
        FROM per
    )
    SELECT CAST(r_q AS INTEGER) AS r_q, CAST(f_q AS INTEGER) AS f_q,
           CAST(m_q AS INTEGER) AS m_q,
           count(*) AS n_customers,
           CAST((2 * sum(monetary_cents) + count(*)) // (2 * count(*))
                AS DOUBLE) / 100 AS avg_spend
    FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""
QUERIES["rfm_quartile_segments"] = rfm_quartile_segments


_ABC_A, _ABC_B = "0.8", "0.95"   # cumulative-share class boundaries


def parts_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by lineitem revenue (the
    80/15/5 inventory-control staple): parts ranked by exact-cents
    revenue, classified by CUMULATIVE share — A up to 80%, B to 95%,
    C the tail — and reported as the three-row class profile (part
    count, part share, revenue, revenue share).  The "20% of parts
    carry 80% of revenue" concentration read that decides stocking,
    caching, and hot-partition policy alike.

    Exactness: revenue in exact BIGINT cents; the cumulative sum runs
    over a (revenue DESC, partkey ASC) total order; class boundaries
    compare single-division exact ratios against literal thresholds.
    Scale: one part-keyed aggregate with map-side combine + the
    distributed running total (``operators.ranked.global_cumsum``, r9
    — replacing the part-grain single-task global window) + a 3-row
    aggregate."""
    from qrapids_forecast_r_script_spark.operators.ranked import (
        global_cumsum)
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice")
                    * (1 - F.col("l_discount")) * 100, 0).cast("long")
    per = (li.groupBy("l_partkey")
           .agg(F.sum(cents).alias("rev_cents")))
    tot = per.agg(F.sum("rev_cents").alias("total_cents"),
                  F.count(F.lit(1)).alias("n_parts_total"))
    ranked = (global_cumsum(per,
                            [F.col("rev_cents").desc(),
                             F.col("l_partkey").asc()],
                            "rev_cents", "cum_cents")
              .crossJoin(F.broadcast(tot)))
    share = (F.col("cum_cents").cast("double")
             / F.col("total_cents").cast("double"))
    cls = (F.when(share <= F.lit(float(_ABC_A)), F.lit("A"))
           .when(share <= F.lit(float(_ABC_B)), F.lit("B"))
           .otherwise(F.lit("C")))
    return (ranked.withColumn("abc_class", cls)
            .groupBy("abc_class")
            .agg(F.count(F.lit(1)).alias("n_parts"),
                 F.max("n_parts_total").alias("n_parts_total"),
                 F.sum("rev_cents").alias("revenue_cents"),
                 F.max("total_cents").alias("total_cents"))
            .select("abc_class", "n_parts",
                    F.round(F.col("n_parts").cast("double")
                            / F.col("n_parts_total").cast("double"), 6)
                    .alias("part_share"),
                    "revenue_cents",
                    F.round(F.col("revenue_cents").cast("double")
                            / F.col("total_cents").cast("double"), 6)
                    .alias("revenue_share"))
            .orderBy("abc_class"))


ORACLES["parts_abc_pareto"] = f"""
    WITH per AS (
        SELECT l_partkey,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                   * 100, 0) AS BIGINT)) AS BIGINT)
                   AS rev_cents
        FROM lineitem GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(rev_cents) AS BIGINT) AS total_cents,
               count(*) AS n_parts_total
        FROM per
    ), ranked AS (
        SELECT p.*, t.total_cents, t.n_parts_total,
               CAST(sum(rev_cents) OVER (
                   ORDER BY rev_cents DESC, l_partkey ASC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
        FROM per p CROSS JOIN tot t
    ), classed AS (
        SELECT *,
               CASE WHEN CAST(cum_cents AS DOUBLE)
                         / CAST(total_cents AS DOUBLE)
                         <= CAST({_ABC_A} AS DOUBLE) THEN 'A'
                    WHEN CAST(cum_cents AS DOUBLE)
                         / CAST(total_cents AS DOUBLE)
                         <= CAST({_ABC_B} AS DOUBLE) THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM ranked
    )
    SELECT abc_class, count(*) AS n_parts,
           round(CAST(count(*) AS DOUBLE)
                 / CAST(max(n_parts_total) AS DOUBLE), 6) AS part_share,
           CAST(sum(rev_cents) AS BIGINT) AS revenue_cents,
           round(CAST(sum(rev_cents) AS DOUBLE)
                 / CAST(max(total_cents) AS DOUBLE), 6)
               AS revenue_share
    FROM classed GROUP BY 1 ORDER BY 1
"""
QUERIES["parts_abc_pareto"] = parts_abc_pareto


_TDW_MS = 1_800_000     # 30-minute trailing window


def events_trailing_distinct_types(spark: SparkSession, sf_dir: str
                                   ) -> DataFrame:
    """Exact COUNT(DISTINCT) over a trailing 30-minute event-time
    window per user — the window-function gap NO engine fills
    natively (SQL forbids DISTINCT in windowed aggregates; Spark has
    no distinct RANGE frame either): per event, how many distinct
    event types did this user emit in the last half hour — the
    behavioral-breadth signal sessions and bot screens read.

    Executed as the bin-and-refine pattern `events_range_join_binned`
    pinned: probe rows register under their own 30-min bucket AND the
    next one, the equi-join on (user, bucket) bounds the fan-out to
    two buckets per probe, and the exact millisecond refine keeps
    0 ≤ Δt ≤ 30 min — never an unbounded interval self-join.  The
    oracle is the definitional correlated DISTINCT subquery, so the
    rewrite's equivalence is hash-checked.

    Scale: fan-out = per-user events per 30-min bucket (traffic-
    bounded, not corpus-bounded); one (user, bucket)-keyed shuffle;
    millisecond integers end to end."""
    ev = (load_table(spark, sf_dir, "events")
          .select("event_id", "user_id", "event_type",
                  F.unix_millis("ts").alias("ms")))
    bucket = F.expr(f"ms div {_TDW_MS}")
    target = ev.select("event_id", "user_id",
                       F.col("ms").alias("t_ms"),
                       bucket.alias("bkt"))
    probe = ev.select(F.col("user_id").alias("p_user"),
                      F.col("event_type").alias("p_type"),
                      F.col("ms").alias("p_ms"),
                      bucket.alias("p_bkt"))
    probe2 = probe.select(
        "p_user", "p_type", "p_ms",
        F.explode(F.array(F.col("p_bkt"), F.col("p_bkt") + 1))
        .alias("bkt"))
    joined = (target.join(
        probe2, (target["user_id"] == probe2["p_user"])
        & (target["bkt"] == probe2["bkt"]))
        .where((F.col("t_ms") - F.col("p_ms") >= 0)
               & (F.col("t_ms") - F.col("p_ms") <= _TDW_MS)))
    return (joined.groupBy("event_id")
            .agg(F.count_distinct("p_type").alias("n_types_30m")))


QUERIES["events_trailing_distinct_types"] = events_trailing_distinct_types
ORACLES["events_trailing_distinct_types"] = f"""
    SELECT e.event_id,
           (SELECT count(DISTINCT e2.event_type)
            FROM events e2
            WHERE e2.user_id = e.user_id
              AND epoch_ms(e2.ts) BETWEEN epoch_ms(e.ts) - {_TDW_MS}
                                      AND epoch_ms(e.ts))
               AS n_types_30m
    FROM events e
"""


_PRICE_QS = [0.25, 0.5, 0.75, 0.9, 0.99]


def orders_exact_price_quantiles(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """EXACT type-7 quantiles of order price over the full fact table
    — the distributed order-statistic read (r9): where
    `value_percentiles_by_type` pays Spark's built-in `percentile`
    (exact but single-task per group at this grain) and the
    `approx_percentile` twin trades error for scale, this form gets
    EXACT quantiles scalably from `operators.ranked.global_rank`: rank
    every order once (range exchange + offsets, no single-task
    window), keep only the ≤2 boundary rows per requested quantile via
    a 5-row broadcast grid, and interpolate x_⌊h⌋ + (h−⌊h⌋)(x_⌈h⌉ −
    x_⌊h⌋) with h = (N−1)q + 1.

    Exactness: cents are exact BIGINT; ranks are exact integers; both
    engines evaluate the identical interpolation expression on the
    identical boundary integers (the oracle reproduces the
    construction rather than calling quantile_cont, so no
    engine-internal interpolation variance enters), rounded 2dp.

    Scale: one ranking pass over orders + a 5-literal broadcast
    nested-loop filter + a 5-row aggregate.  The 100 TB plan is
    IDENTICAL — no per-group serialization point anywhere."""
    from qrapids_forecast_r_script_spark.operators.ranked import global_rank
    orders = load_table(spark, sf_dir, "orders")
    cents = (orders.select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long")
        .alias("cents"), "o_orderkey"))
    ranked = global_rank(cents,
                         [F.col("cents"), F.col("o_orderkey")],
                         rank_col="r", keep_total=True)
    qgrid = spark.createDataFrame([(q,) for q in _PRICE_QS], "q double")
    h = (F.col("__rb_n") - 1) * F.col("q") + 1
    hits = (ranked.join(
        F.broadcast(qgrid),
        (F.col("r") == F.floor(h)) | (F.col("r") == F.ceil(h))))
    agg = (hits.groupBy("q")
           .agg(F.max(F.when(F.col("r") == F.floor(h), F.col("cents")))
                .alias("lo"),
                F.max(F.when(F.col("r") == F.ceil(h), F.col("cents")))
                .alias("hi"),
                F.max(h - F.floor(h)).alias("frac")))
    val = (F.col("lo")
           + F.col("frac") * (F.col("hi") - F.col("lo"))) / 100.0
    return (agg.select("q", F.round(val, 2).alias("price_quantile"))
            .orderBy("q"))


QUERIES["orders_exact_price_quantiles"] = orders_exact_price_quantiles
ORACLES["orders_exact_price_quantiles"] = f"""
    WITH cents AS (
        SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
               o_orderkey
        FROM orders
    ), ranked AS (
        SELECT cents,
               CAST(row_number() OVER (ORDER BY cents, o_orderkey)
                    AS BIGINT) AS r,
               CAST(count(*) OVER () AS BIGINT) AS n
        FROM cents
    ), qgrid AS (
        SELECT CAST(unnest([{", ".join(str(q) for q in _PRICE_QS)}])
                    AS DOUBLE) AS q
    ), hits AS (
        SELECT g.q, r.r, r.cents, (r.n - 1) * g.q + 1 AS h
        FROM ranked r JOIN qgrid g
          ON r.r = floor((r.n - 1) * g.q + 1)
          OR r.r = ceil((r.n - 1) * g.q + 1)
    )
    SELECT q,
           round((max(CASE WHEN r = floor(h) THEN cents END)
                  + max(h - floor(h))
                    * (max(CASE WHEN r = ceil(h) THEN cents END)
                       - max(CASE WHEN r = floor(h) THEN cents END)))
                 / 100.0, 2) AS price_quantile
    FROM hits GROUP BY q ORDER BY q
"""
