"""SparkSession factory.

Reproduces the reference's session knobs (AQE + partition coalescing,
``spark/consumer.py:20-27`` in the reference) and adds the settings a
100 TB deployment wants from day one:

- AQE skew-join handling (salting-free skew mitigation at runtime),
- Arrow for any pandas-UDF exchange,
- a shuffle-partition default sized for the local harness but overridable
  via ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` (a real cluster would set this to
  ~2-3x total cores, or rely on AQE coalescing from a high initial value).

Cached plans may be re-partitioned
(``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``). Spark's
default keeps a persisted shuffle output at ``spark.sql.shuffle.partitions``
partitions so that its hash partitioning stays visible to later joins; AQE
then never coalesces the frame, and every read of a cached 100-row frame
runs one task per shuffle partition. With the setting on, AQE coalesces the
final shuffle read of a cached plan as it does for an uncached one. The
trade: a join downstream of a cached frame can no longer reuse the frame's
hash partitioning, so it may add an exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def get_spark(
    app_name: str = "bigdata-2025-1-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master=None`` defers to the environment (spark-submit / an existing
    session); tests pass ``local[N]``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    builder = (
        builder
        # In local mode the driver JVM IS the executor: Spark's 1g
        # default heap is executor-undersized for local[32] (the round-5
        # bench hit a broadcast-build OOM at sf0.1 under it). Only takes
        # effect when this factory launches the JVM; a cluster deploy
        # sizes driver/executor memory in spark-submit as usual.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", "8g"),
        )
        # Reference parity: spark/consumer.py:23-24
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Scale posture: runtime skew handling for 100 TB joins/aggs
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow-batched pandas UDFs (the only sanctioned Python hot path)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Deterministic timestamp semantics: the oracle (DuckDB) reads
        # parquet timestamps as naive; pinning UTC makes Spark's LTZ
        # arithmetic and NTZ<->LTZ casts value-identical to that reading
        # on any host.
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet scans: default 128m is right for the big tables; keep it
        # explicit so the intent survives config drift.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Stage progress bars are carriage-return spam in non-tty logs
        # (they glue onto selfcheck/bench result lines and break
        # `grep -c "^ok"`). Static conf — must be set before the
        # SparkContext launches.
        .config("spark.ui.showConsoleProgress", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
