"""Structured Streaming surface over ``events`` (north-star extension —
the reference is batch-pull only, SURVEY §2B.10).

- ``events_stream_tumbling_1h``: a REAL streaming query — ``readStream``
  over the events parquet, ``withWatermark`` + 1-hour tumbling window
  aggregation, ``trigger(availableNow)`` into a memory sink.  Because the
  watermark only drops data that arrives later than the watermark delay
  and availableNow replays the files deterministically, the result equals
  the batch aggregation — so this streaming query has a full DuckDB
  oracle (epoch-aligned tumbling windows == date_trunc('hour')).
- ``events_sliding_1h_30m``: sliding windows (each event in 2 windows),
  expressed batch-side with the same ``window()`` function and oracled by
  a UNION ALL of the two window starts.
- ``user_sessions``: gap-based sessionization (30-min inactivity), the
  batch gaps-and-islands form — the stateful-streaming analog would use
  ``applyInPandasWithState``; the batch form is SQL-expressible and
  oracle-checked.

At 100 TB: the tumbling agg is a streaming shuffle keyed by (window,
event_type) with watermark-bounded state; sessionization shuffles once on
user_id and windows within partitions.
"""

from __future__ import annotations

import os
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.window import Window

from .. import schemas
from ..sources import load_table
from ..sources.registry import events_ts_is_nanos


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File stream over ``events.parquet`` normalized to the EVENTS
    schema, dispatching on the on-disk ``ts`` physical type exactly like
    the batch reader (``sources.registry.load_table``): TIMESTAMP(NANOS)
    arrives as long ns (``nanosAsLong``) and is truncated to µs;
    TIMESTAMP(MICROS) reads directly."""
    path = os.path.join(sf_dir, "events.parquet")
    if events_ts_is_nanos(path):
        raw = (spark.readStream
               .schema(schemas.EVENTS_RAW_NS)
               .option("pathGlobFilter", "events.parquet")
               .parquet(sf_dir))
        return (raw
                .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
                .select([f.name for f in schemas.EVENTS.fields]))
    return (spark.readStream
            .schema(schemas.EVENTS)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir))


# shuffle partitions (= state stores per stateful operator) of a local
# availableNow replay — see the state-store-sizing note on
# :func:`_run_available_now`
_STREAM_SHUFFLE = 4


@contextmanager
def _scoped_stream_shuffle(spark: SparkSession):
    """Temporarily set ``spark.sql.shuffle.partitions`` to
    ``_STREAM_SHUFFLE`` for a local availableNow replay.  Safe because
    every caller runs streaming queries sequentially and the query pins
    the partition count into its own fresh checkpoint at start."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_STREAM_SHUFFLE))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _run_available_now(spark: SparkSession, writer: DataStreamWriter,
                       name: str, timeout_s: float = 300) -> None:
    """Start ``writer`` as an availableNow replay from a fresh checkpoint
    and wait for it, raising on timeout.

    A timed-out streaming query must NEVER return its sink table — that
    would be a silently partial result (availableNow emits incrementally)
    that surfaces later as a baffling oracle mismatch.  Fail loudly
    instead; transient host contention (see BASELINE.md) makes this a
    real path, not a theoretical one.

    State-store sizing: each stateful operator keeps ONE state store per
    shuffle partition (a stream-stream join keeps four per side), and
    every micro-batch pays a per-store load/commit round-trip — so the
    partition count is state-store COUNT, not parallelism, for a
    single-file availableNow replay whose state fits in a handful of
    stores.  At the session default of 32, the left-outer join spends
    8-30 s (high variance) on ~384 store commits; at 4 it runs ~3.5 s
    with identical output (19 772 rows either way — stream content is
    partition-count-invariant), hence ``_STREAM_SHUFFLE = 4``; on a
    real cluster the right number is sized to cores × state volume.
    The conf is scoped-and-restored: stateful queries capture the
    partition count from the session at START (it is then pinned in the
    checkpoint), and every caller here runs streaming queries
    sequentially (the parity gate routes streaming to its sequential
    path; bench is sequential), so the temporary session mutation
    cannot race another thread's query plan.
    """
    with _scoped_stream_shuffle(spark), tempfile.TemporaryDirectory() as ckpt:
        q = (writer.option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .start())
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(
                f"streaming query {name!r} did not finish within "
                f"{timeout_s}s — refusing to return a partial sink")


def _run_to_memory_sink(df: DataFrame, name: str, output_mode: str,
                        timeout_s: float = 300) -> None:
    """availableNow replay of ``df`` into the memory table ``name``."""
    _run_available_now(df.sparkSession,
                       df.writeStream.format("memory").queryName(name)
                       .outputMode(output_mode),
                       name, timeout_s)


def _tumbling_agg(df: DataFrame) -> DataFrame:
    return (df
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 4).alias("total_value"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "event_type", "n_events", "total_value"))


def events_stream_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real Structured Streaming run: parquet file stream → watermark →
    tumbling window agg → availableNow trigger → memory sink."""
    agg = _tumbling_agg(events_stream(spark, sf_dir))
    name = "events_stream_tumbling_sink"
    _run_to_memory_sink(agg, name, "complete")
    return spark.table(name)


def events_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming sliding windows: 1-hour window every 30 minutes
    (each event lands in exactly 2 windows), readStream → watermark →
    window agg → availableNow → memory sink.  Complete output mode makes
    the final table independent of micro-batch boundaries, so the batch
    SQL oracle is exact — same contract as the tumbling query.  (This
    was a batch-form demo until round 2; the SCALE.md shortcut list
    shrank accordingly.)"""
    agg = (events_stream(spark, sf_dir)
           .withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"),
                    F.col("event_type"))
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("total_value"))
           .select(F.col("w.start").alias("window_start"),
                   F.col("w.end").alias("window_end"),
                   "event_type", "n_events", "total_value"))
    name = "events_stream_sliding_sink"
    _run_to_memory_sink(agg, name, "complete")
    return spark.table(name)


# Shared sessionization CTE chain (the SQL mirror of
# :func:`sessionize_events`) — composed by the user_sessions,
# session_transcripts, and event_transition_matrix oracles so the
# boundary rule has exactly one SQL definition too.
SESSIONIZED_SQL = """flagged AS (
        SELECT *,
               CASE WHEN lag(epoch(ts)) OVER sw IS NULL
                         OR epoch(ts) - lag(epoch(ts)) OVER sw > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW sw AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT *, CAST(sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged
    )"""


def sessionize_events(ev: DataFrame) -> DataFrame:
    """Gaps-and-islands sessionization, THE canonical boundary rule for
    this engine: a new session starts when the gap since the user's
    previous event exceeds 1800 s, compared on FRACTIONAL-second epochs
    (DuckDB ``epoch()`` is fractional; ``unix_timestamp`` truncates and
    would disagree on gaps near the boundary).  Shared by
    :func:`user_sessions` and
    ``product_analytics.session_transcripts`` so the >1800 rule lives
    in exactly one place (``events_session_windows`` documents its own
    half-open >= 1800 variant)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.col("ts").cast("double")
           - F.lag(F.col("ts").cast("double"), 1).over(w))
    return (ev
            .withColumn("new_session",
                        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
            .withColumn("session_id",
                        F.sum("new_session").over(
                            w.rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow))))


def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts after > 30 min of
    user inactivity.  One shuffle on user_id; session ids via windowed
    cumulative sum (gaps-and-islands, :func:`sessionize_events`)."""
    sess = sessionize_events(load_table(spark, sf_dir, "events"))
    return (sess
            .groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.round(F.sum("value"), 4).alias("session_value")))


def events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows: ``F.session_window(ts, '30 minutes')`` per
    user — Spark's built-in gap-based session operator (the streaming form
    takes the same expression).  Near-equal to the gaps-and-islands form
    in :func:`user_sessions`, except at the exact boundary: session
    windows are half-open [ts, ts+gap), so a gap of exactly 1800 s starts
    a new session here (oracle uses >= 1800) while ``user_sessions``
    keeps it (> 1800)."""
    ev = load_table(spark, sf_dir, "events")
    return (ev
            .groupBy("user_id",
                     F.session_window("ts", "30 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.round(F.sum("value"), 4).alias("session_value"))
            .select("user_id", "n_events", "session_start", "session_end",
                    "session_value"))


def events_stream_dedup_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real streaming dedup: ``dropDuplicatesWithinWatermark`` on
    (user_id, event_type, hour) over the event-time watermark — the
    streaming form of exact dedup, with state evicted one watermark past
    each hour.

    Deterministic (hence fully oracled against batch DISTINCT) because
    the source file is time-ordered and a key's occurrences all fall
    inside its own hour: a key can never reappear after its state was
    evicted, so each distinct key is emitted exactly once.  At scale the
    state store is bounded by (active hours × keys/hour), not stream
    length.
    """
    deduped = (events_stream(spark, sf_dir)
               .withColumn("hour", F.date_trunc("hour", "ts"))
               .withWatermark("ts", "1 hour")
               .dropDuplicatesWithinWatermark(["user_id", "event_type", "hour"])
               .select("user_id", "event_type", "hour"))
    name = "events_stream_dedup_sink"
    _run_to_memory_sink(deduped, name, "append")
    return spark.table(name)


def _watermarked_typed_side(spark, sf_dir, alias: str, etype: str):
    """One side of a stream-stream join: the event-type-filtered stream
    with a 1-hour watermark and aliased columns.  Shared by the inner
    and left-outer joins so their watermark/state contracts cannot
    drift apart (review finding: two verbatim nested copies)."""
    return (events_stream(spark, sf_dir)
            .where(F.col("event_type") == etype)
            .select(F.col("event_id").alias(f"{alias}_id"),
                    F.col("user_id").alias(f"{alias}_user"),
                    F.col("ts").alias(f"{alias}_ts"))
            .withWatermark(f"{alias}_ts", "1 hour"))


def events_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real watermarked stream-stream inner join: error events joined to
    same-user purchase events within ±30 minutes.

    Both sides read as file streams with 1-hour watermarks; the join
    condition carries the time-range predicate, so Spark bounds each
    side's state to watermark + range (the canonical interval-join state
    contract).  With availableNow replay the full match set is emitted —
    deterministic, so the batch time-predicate join is an exact oracle.
    At 100 TB/day the same query holds: state is (rate × 1.5 h) per
    side, keyed and co-partitioned by user_id.
    """
    err = _watermarked_typed_side(spark, sf_dir, "err", "error")
    pur = _watermarked_typed_side(spark, sf_dir, "pur", "purchase")
    joined = (err.join(
        pur,
        (F.col("err_user") == F.col("pur_user"))
        & (F.col("pur_ts") >= F.col("err_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("pur_ts") <= F.col("err_ts") + F.expr("INTERVAL 30 MINUTES")))
        .select(F.col("err_user").alias("user_id"), "err_id", "pur_id"))
    name = "events_stream_stream_join_sink"
    _run_to_memory_sink(joined, name, "append")
    return spark.table(name)


def events_stream_stream_left_join(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — the inner query's
    outer sibling, pinning Spark's null-row EVICTION semantics, which
    the inner form never exposes: an unmatched left row is emitted
    (null-extended) only once the watermark proves no future match can
    arrive, i.e. when ``err_ts + 30 min < watermark``; unmatched rows
    NEWER than that stay in state and are never emitted by the
    availableNow replay.  The final watermark (advanced by the closing
    no-data batch) is the MIN across the two watermark nodes — each
    sits above its event-type filter, so it tracks that SIDE's max
    event time: ``min(max err_ts, max pur_ts) − 1 h``.  The oracle
    models eviction exactly: inner pairs ∪ unmatched-left rows with
    ``err_ts + 30 min < watermark`` — verified row-identical at sf0.01
    (35 pairs + 1972 evicted nulls; the youngest unmatched errors
    correctly withheld) AND at sf0.001, which is what exposed the
    per-side watermark subtlety (a global-max model was one row off).

    At 100 TB this asymmetry is the operational point of the query: a
    dashboard consuming this join must understand rows near the head of
    the stream are pending, not absent — exactly what the withheld tail
    demonstrates.  State stays (rate × 1.5 h) per side, co-partitioned
    on user_id, same as the inner form.
    """
    err = _watermarked_typed_side(spark, sf_dir, "err", "error")
    pur = _watermarked_typed_side(spark, sf_dir, "pur", "purchase")
    joined = (err.join(
        pur,
        (F.col("err_user") == F.col("pur_user"))
        & (F.col("pur_ts") >= F.col("err_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("pur_ts") <= F.col("err_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer")
        .select(F.col("err_user").alias("user_id"), "err_id", "pur_id"))
    name = "events_stream_stream_left_join_sink"
    _run_to_memory_sink(joined, name, "append")
    return spark.table(name)


def events_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: streaming events joined to a
    batch-computed per-user cohort dimension, aggregated to cohort-month
    × event-type counts.

    The static side is a plain DataFrame — Spark re-plans it per
    micro-batch and (being small) broadcasts it, so the stream side
    needs NO join state at all: this is the scalable way to decorate a
    100 TB/day event stream with dimension attributes (vs stream-stream,
    which keeps watermark-bounded state on both sides).  The non-windowed
    aggregate runs in complete mode; with availableNow replay the result
    equals the batch join, giving an exact oracle.
    """
    cohort = (load_table(spark, sf_dir, "events")
              .groupBy("user_id")
              .agg(F.trunc(F.min(F.to_date("ts")), "month")
                   .alias("cohort_month")))
    stream = events_stream(spark, sf_dir).select("user_id", "event_type")
    agg = (stream.join(F.broadcast(cohort), "user_id")
           .groupBy("cohort_month", "event_type")
           .agg(F.count(F.lit(1)).alias("n_events")))
    name = "events_stream_static_join_sink"
    _run_to_memory_sink(agg, name, "complete")
    return spark.table(name)


def events_stream_upsert_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD-1 state maintenance via ``foreachBatch``: the event
    stream continuously upserts a per-(user, event_type) latest-state
    parquet table — the canonical pattern for keeping a serving table
    current from a 100 TB/day stream when the sink has no native MERGE.

    Each micro-batch reduces to its per-key latest record (map-side
    combine before the keyed shuffle), merges with the existing state
    (union + latest-version window, the same reduction as the batch
    ``orders_upsert_scd1``), and atomically replaces the state dir; the
    merged frame is localCheckpoint-ed first so overwrite never reads
    the files it is replacing.  State size is bounded by the KEY space,
    not stream length.  With availableNow replay and a total (ts,
    event_id) tiebreak the final table is deterministic, so the batch
    argmax query is an exact oracle.
    """
    import shutil

    state_dir = os.path.join(
        tempfile.gettempdir(), "qrapids_stream_state",
        os.path.basename(sf_dir.rstrip("/")))
    shutil.rmtree(state_dir, ignore_errors=True)

    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())

    def _latest(df: DataFrame) -> DataFrame:
        return (df.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select("user_id", "event_type",
                        F.col("ts").alias("last_ts"),
                        F.col("value").alias("last_value"),
                        F.col("event_id")))

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        batch_latest = _latest(batch_df.select(
            "user_id", "event_type", "ts", "value", "event_id"))
        if os.path.exists(state_dir):
            cur = batch_df.sparkSession.read.parquet(state_dir)
            merged = _latest(cur.unionByName(batch_latest).select(
                "user_id", "event_type",
                F.col("last_ts").alias("ts"),
                F.col("last_value").alias("value"), "event_id"))
        else:
            merged = batch_latest
        # materialize BEFORE overwrite: the plan must not lazily read
        # the very files the write is about to replace.  coalesce: the
        # state table is key-space-bounded — 32 fragments per batch
        # would make each subsequent state read file-open-bound
        merged.localCheckpoint(eager=True).coalesce(4) \
            .write.mode("overwrite").parquet(state_dir)

    stream = events_stream(spark, sf_dir).select(
        "user_id", "event_type", "ts", "value", "event_id")
    _run_available_now(spark, stream.writeStream.foreachBatch(_merge),
                       "events_stream_upsert_state")
    return (spark.read.parquet(state_dir)
            .select("user_id", "event_type", "last_ts", "last_value"))


_TRENDING_K = 3


def events_stream_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trending dashboard: per 1-hour tumbling window, the
    top-``k`` users by event count — the leaderboard every live product
    dashboard runs.  The heavy aggregation (window × user) happens IN
    the stream (shuffle keyed by the window + user); the rank is a
    cheap batch post-pass over the sink table, because per-window top-k
    inside a streaming agg would need complete re-sorting per
    micro-batch — rank-at-read is the standard serving split (the sink
    table is the materialized view, the dashboard query ranks it).

    Output-mode note: COMPLETE mode makes the final table independent
    of micro-batch boundaries, which is what makes the batch SQL oracle
    exact — but in complete mode Spark does NOT evict window state on
    the watermark (it must be able to re-emit every window), so state
    here grows with distinct (window, user) pairs.  The long-running
    production shape is UPDATE mode + a ``foreachBatch`` upsert sink
    (exactly ``events_stream_upsert_state``'s pattern) where the
    watermark DOES bound state, with the same rank-at-read query on the
    upserted table."""
    counts = (events_stream(spark, sf_dir)
              .withWatermark("ts", "1 hour")
              .groupBy(F.window("ts", "1 hour").alias("w"), F.col("user_id"))
              .agg(F.count(F.lit(1)).alias("n_events"))
              .select(F.col("w.start").alias("window_start"),
                      F.col("w.end").alias("window_end"),
                      "user_id", "n_events"))
    name = "events_stream_trending_sink"
    _run_to_memory_sink(counts, name, "complete")
    snap = spark.table(name)
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("user_id").asc())
    return (snap.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= _TRENDING_K)
            .select("window_start", "window_end", "rank", "user_id",
                    "n_events"))


def events_stream_trending_upsert(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The PRODUCTION form of :func:`events_stream_trending_topk`
    (whose docstring documents why complete mode cannot bound state):
    UPDATE output mode — the watermark now DOES evict closed windows
    from the aggregation state — with a ``foreachBatch`` upsert keeping
    a per-(window, user) count table current (each update row replaces
    its key's prior row; the same merge shape as
    ``events_stream_upsert_state``).  The leaderboard is the identical
    rank-at-read query over the upserted table.  With an availableNow
    replay and no late data the final table equals the complete-mode
    result, so this shares the exact batch SQL oracle — proving the
    bounded-state form is result-identical, not just claimed."""
    import shutil

    state_dir = os.path.join(
        tempfile.gettempdir(), "qrapids_trending_state",
        os.path.basename(sf_dir.rstrip("/")))
    shutil.rmtree(state_dir, ignore_errors=True)

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df
        if os.path.exists(state_dir):
            cur = b.sparkSession.read.parquet(state_dir)
            keep = cur.join(b.select("window_start", "user_id"),
                            ["window_start", "user_id"], "left_anti")
            merged = keep.unionByName(b)
        else:
            merged = b
        # coalesce before the state write: the table is key-space-bounded
        # (windows × users), and writing it as 32 shuffle-partition
        # fragments makes every subsequent batch's read file-open-bound
        # (the compact_small_files pathology, self-inflicted per batch)
        merged.localCheckpoint(eager=True).coalesce(4) \
            .write.mode("overwrite").parquet(state_dir)

    counts = (events_stream(spark, sf_dir)
              .withWatermark("ts", "1 hour")
              .groupBy(F.window("ts", "1 hour").alias("w"), F.col("user_id"))
              .agg(F.count(F.lit(1)).alias("n_events"))
              .select(F.col("w.start").alias("window_start"),
                      F.col("w.end").alias("window_end"),
                      "user_id", "n_events"))
    _run_available_now(spark, counts.writeStream.foreachBatch(_merge)
                       .outputMode("update"),
                       "events_stream_trending_upsert")
    snap = spark.read.parquet(state_dir)
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("user_id").asc())
    return (snap.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= _TRENDING_K)
            .select("window_start", "window_end", "rank", "user_id",
                    "n_events"))


QUERIES = {
    "events_stream_tumbling_1h": events_stream_tumbling_1h,
    "events_sliding_1h_30m": events_sliding_1h_30m,
    "user_sessions": user_sessions,
    "events_session_windows": events_session_windows,
    "events_stream_dedup_hourly": events_stream_dedup_hourly,
    "events_stream_stream_join": events_stream_stream_join,
    "events_stream_static_join": events_stream_static_join,
    "events_stream_upsert_state": events_stream_upsert_state,
    "events_stream_trending_topk": events_stream_trending_topk,
    "events_stream_trending_upsert": events_stream_trending_upsert,
    "events_stream_stream_left_join": events_stream_stream_left_join,
}

_TUMBLING_SQL = """
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2, 3
"""

ORACLES = {
    "events_stream_trending_topk": f"""
        WITH counts AS (
            SELECT date_trunc('hour', ts) AS window_start,
                   date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
                   user_id, count(*) AS n_events
            FROM events GROUP BY 1, 2, 3
        )
        SELECT window_start, window_end, rank, user_id, n_events FROM (
            SELECT *, row_number() OVER (PARTITION BY window_start
                       ORDER BY n_events DESC, user_id ASC) AS rank
            FROM counts)
        WHERE rank <= {_TRENDING_K}
    """,
    # the update-mode + upsert production form must land on the SAME
    # final table as the complete-mode demo — identical oracle
    "events_stream_trending_upsert": f"""
        WITH counts AS (
            SELECT date_trunc('hour', ts) AS window_start,
                   date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
                   user_id, count(*) AS n_events
            FROM events GROUP BY 1, 2, 3
        )
        SELECT window_start, window_end, rank, user_id, n_events FROM (
            SELECT *, row_number() OVER (PARTITION BY window_start
                       ORDER BY n_events DESC, user_id ASC) AS rank
            FROM counts)
        WHERE rank <= {_TRENDING_K}
    """,
    "events_stream_upsert_state": """
        SELECT user_id, event_type, ts AS last_ts, value AS last_value
        FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events)
        WHERE rn = 1
    """,
    # Spark's outer-join eviction model, exactly: matched pairs emit as
    # they join; an unmatched left row null-extends only once the final
    # watermark (max event time − 1 h, advanced by the closing no-data
    # batch) proves no future match, i.e. err_ts + 30 min < watermark.
    # Younger unmatched rows stay in state and are NOT in the result.
    "events_stream_stream_left_join": """
        WITH err AS (
            SELECT event_id AS err_id, user_id, ts
            FROM events WHERE event_type = 'error'
        ), pur AS (
            SELECT event_id AS pur_id, user_id, ts
            FROM events WHERE event_type = 'purchase'
        ), wm AS (
            -- each side's watermark node sits ABOVE its event-type
            -- filter, so it tracks that side's own max event time; the
            -- query-global watermark is the MIN across watermark nodes
            SELECT least((SELECT max(ts) FROM err),
                         (SELECT max(ts) FROM pur))
                   - INTERVAL 1 HOUR AS w
        )
        SELECT e.user_id, e.err_id, p.pur_id
        FROM err e JOIN pur p
          ON p.user_id = e.user_id
         AND p.ts BETWEEN e.ts - INTERVAL 30 MINUTE
                      AND e.ts + INTERVAL 30 MINUTE
        UNION ALL
        SELECT e.user_id, e.err_id, NULL AS pur_id
        FROM err e CROSS JOIN wm
        WHERE e.ts + INTERVAL 30 MINUTE < wm.w
          AND NOT EXISTS (
              SELECT 1 FROM pur p
              WHERE p.user_id = e.user_id
                AND p.ts BETWEEN e.ts - INTERVAL 30 MINUTE
                             AND e.ts + INTERVAL 30 MINUTE)
    """,
    "events_stream_tumbling_1h": _TUMBLING_SQL,
    "events_sliding_1h_30m": """
        WITH starts AS (
            -- DuckDB to_timestamp() yields TIMESTAMPTZ; Spark's window
            -- start is plain TIMESTAMP — cast so the driver's
            -- type-sensitive hash matches (round-2 red row fix).
            SELECT CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800)
                        AS TIMESTAMP) AS s1, *
            FROM events
        ), expanded AS (
            SELECT s1 AS window_start, * FROM starts
            UNION ALL
            SELECT s1 - INTERVAL 30 MINUTE AS window_start, * FROM starts
        )
        SELECT window_start,
               window_start + INTERVAL 1 HOUR AS window_end,
               event_type,
               count(*) AS n_events,
               round(sum(value), 4) AS total_value
        FROM expanded
        GROUP BY 1, 2, 3
    """,
    "events_stream_static_join": """
        WITH cohort AS (
            SELECT user_id,
                   CAST(date_trunc('month', min(CAST(ts AS DATE))) AS DATE)
                       AS cohort_month
            FROM events GROUP BY 1
        )
        SELECT c.cohort_month, e.event_type, count(*) AS n_events
        FROM events e JOIN cohort c USING (user_id)
        GROUP BY 1, 2
    """,
    "events_stream_stream_join": """
        SELECT e.user_id, e.event_id AS err_id, p.event_id AS pur_id
        FROM events e
        JOIN events p ON p.user_id = e.user_id
                     AND p.event_type = 'purchase'
                     AND p.ts >= e.ts - INTERVAL 30 MINUTE
                     AND p.ts <= e.ts + INTERVAL 30 MINUTE
        WHERE e.event_type = 'error'
    """,
    "events_stream_dedup_hourly": """
        SELECT DISTINCT user_id, event_type,
               date_trunc('hour', ts) AS hour
        FROM events
    """,
    "events_session_windows": """
        WITH flagged AS (
            -- >= 1800, not > 1800: Spark's session_window is half-open
            -- [ts, ts+gap), so an event exactly gap seconds after the
            -- previous one starts a NEW session natively
            SELECT user_id, ts, event_id, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), numbered AS (
            SELECT *, sum(new_session) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                   AS session_id
            FROM flagged
        )
        SELECT user_id,
               count(*) AS n_events,
               min(ts) AS session_start,
               max(ts) AS session_end,
               round(sum(value), 4) AS session_value
        FROM numbered
        GROUP BY user_id, session_id
    """,
    "user_sessions": f"""
        WITH {SESSIONIZED_SQL}
        SELECT user_id, session_id,
               count(*) AS n_events,
               min(ts) AS session_start,
               max(ts) AS session_end,
               round(sum(value), 4) AS session_value
        FROM sessions
        GROUP BY 1, 2
    """,
}
