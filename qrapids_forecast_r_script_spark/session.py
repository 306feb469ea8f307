"""SparkSession construction with scale-oriented defaults.

The reference opens one global Elasticsearch connection per session
(``TimeSeriesFunctions_GPL_0.5.1.R:16-21``); our session-setup analog is a
SparkSession tuned for the engine's workload shape:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
- Arrow on (every forecast model runs in an Arrow-batched pandas UDF)
- shuffle partitions sized from the env (32 locally; on a real cluster this
  would be ~2-3x total cores and AQE coalesces down)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "qrapids-forecast-spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Config choices are deliberate for scale, not just local tests:
    AQE handles skew and post-shuffle coalescing at any SF; the broadcast
    threshold keeps dimension joins (region/nation/supplier) shuffle-free;
    Arrow makes the pandas-UDF forecast layer batch-transfer instead of
    row-pickle.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Pin ANSI mode explicitly (it is the Spark 4.x default, so this
        # changes nothing at runtime — it makes the overflow contract
        # part of the session spec): arithmetic overflow RAISES instead
        # of silently NULLing, which the exact-integer statistics
        # (KPSS/ndiffs decimal(38,0) chains, the BIGINT micro-grids)
        # rely on to fail loud — mirroring DuckDB's HUGEINT
        # out-of-range error — rather than emit a plausible wrong
        # number from a silently shortened sum (ADVICE r7 medium #2).
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # the driver's events.parquet stores ts as TIMESTAMP(NANOS), which
        # Spark's parquet reader rejects; read as long ns and convert in
        # sources.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(
            os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    return builder.getOrCreate()


def shuffle_width(spark: SparkSession) -> int:
    """The session's shuffle-partition count as an explicit repartition
    width (Connect-clean: read from conf, not from the classic
    context's default-parallelism attribute).

    Used wherever a CPU-bound grouped/mapInPandas stage needs a
    user-specified repartition that AQE's size-based coalescing must
    not collapse (forecast_batch, the hybrid fan-out, cogrouped ops,
    PQ candidate expansion) — one definition instead of four copies.
    A malformed setting raises rather than being replaced."""
    return max(1, int(spark.conf.get("spark.sql.shuffle.partitions")))
