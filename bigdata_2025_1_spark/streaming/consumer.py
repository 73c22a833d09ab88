"""Streaming document consumer — EP1 parity, Spark-first.

Reference pipeline (spark/consumer.py:103-176): Kafka → from_json →
null-filter → foreachBatch{ count×2, groupBy count, 4-way size agg,
limit(5) } printed to stdout, stats recovered later by regex-scraping
container logs (spark/export_stats.py:9-67 — the A11 anti-pattern).

This version:
- source-agnostic: any streaming DataFrame with (key, value[, timestamp])
  — Kafka in production (``format("kafka")``, same options incl.
  maxOffsetsPerTrigger, the working spelling of the reference's no-op
  maxRatePerPartition, consumer.py:25), file/memory streams in tests;
- ONE distributed aggregate per micro-batch, a per-domain groupBy whose
  few rows fold into the stats row in Python (the reference runs 4+
  aggregations and counts twice — consumer.py:36,47,53,71); that is 2
  Spark jobs per batch, and nothing is cached;
- stats go to a STRUCTURED sink (in-memory list, and optionally one
  parquet file per batch written without a Spark job), shaped per
  export_stats.py:36-42, never scraped from logs; a replayed batch
  overwrites its own file, so the parquet table holds one row per batch;
- registers the batch as temp view ``documents`` so the reference's SQL
  entry point (spark/visualize.py:27) works live.
"""

from __future__ import annotations

import functools
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, TimestampType

from bigdata_2025_1_spark.sources.kafka_shape import consumer_parse

STATS_BODY = (
    "total_documents BIGINT, domains MAP<STRING, BIGINT>, "
    "size_stats STRUCT<min_size: BIGINT, max_size: BIGINT, avg_size: DOUBLE, total_size: BIGINT>"
)
STATS_SCHEMA = "batch_id BIGINT, ts TIMESTAMP, " + STATS_BODY


def batch_stats(batch_df: DataFrame) -> dict:
    """All of the reference's per-batch statistics (consumer.py:33-100
    semantics): total count, per-domain counts, min/max/avg/sum of content
    length. One distributed groupBy (2 jobs under AQE) gives at most one
    row per domain; those rows fold in Python into one ``STATS_BODY``
    row. A batch with no rows gives NULL counts and sizes and an empty
    ``domains`` map."""
    ln = F.length("content")
    per_domain = sorted(
        batch_df.groupBy("domain")
        .agg(F.count("*").alias("n"), F.min(ln).alias("lo"), F.max(ln).alias("hi"), F.sum(ln).alias("size"))
        .collect(),
        key=lambda r: r.domain,
    )
    if not per_domain:
        return {
            "total_documents": None,
            "domains": {},
            "size_stats": dict.fromkeys(("min_size", "max_size", "avg_size", "total_size")),
        }
    n = sum(r.n for r in per_domain)
    size = sum(r.size for r in per_domain)
    return {
        "total_documents": n,
        "domains": {r.domain: r.n for r in per_domain},
        "size_stats": {
            "min_size": min(r.lo for r in per_domain),
            "max_size": max(r.hi for r in per_domain),
            "avg_size": float(size) / n,  # == Spark's CAST(sum AS DOUBLE) / count
            "total_size": size,
        },
    }


@dataclass
class StatsSink:
    """Structured replacement for A11 log-scraping: collects one stats row
    per micro-batch; optionally also writes it to a parquet table."""

    parquet_path: str | None = None
    rows: list[dict] = field(default_factory=list)

    def write(self, batch_id: int, stats: dict) -> None:
        """Stamp a ``batch_stats`` row and store it. The parquet copy is
        written on the driver, with no Spark job, before returning."""
        ts_us = time.time_ns() // 1000
        if self.parquet_path:
            _write_row_file(self.parquet_path, batch_id, {"batch_id": batch_id, "ts": ts_us, **stats})
        # ts as a collect of the parquet copy would return it
        ts = TimestampType().fromInternal(ts_us).isoformat()
        self.rows.append({"batch_id": batch_id, "ts": ts, **stats})


@functools.cache
def _stats_arrow_schema() -> pa.Schema:
    return to_arrow_schema(StructType.fromDDL(STATS_SCHEMA))


def _write_row_file(path: str, batch_id: int, row: dict) -> None:
    """Write ``row`` as the one-row parquet file of its micro-batch under
    ``path``, through the Hadoop FileSystem of ``path``'s scheme.

    The file is named by the streaming query's id and the batch id, so a
    batch replayed after a crash overwrites its own row, and a query run
    from another checkpoint into the same path adds rows beside it. The
    bytes go to a hidden temp name first and are renamed into place, so
    a reader sees either no file or the whole file."""
    buf = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pylist([row], _stats_arrow_schema()), buf)
    sc = SparkSession.active().sparkContext
    # unset when the sink is called outside a streaming query
    query_id = sc.getLocalProperty("sql.streaming.queryId") or "batch"
    hpath = sc._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
    final = hpath(path, f"{query_id}-{batch_id:020d}.parquet")
    tmp = hpath(path, f".{uuid.uuid4().hex}.tmp")
    fs = final.getFileSystem(sc._jsc.hadoopConfiguration())  # noqa: SLF001
    out = fs.create(tmp, True)
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()
    if not fs.rename(tmp, final):
        # a replayed batch: Hadoop's rename does not replace a file
        fs.delete(final, False)
        if not fs.rename(tmp, final):
            raise OSError(f"could not rename {tmp} to {final}")


def make_foreach_batch(sink: StatsSink) -> Callable[[DataFrame, int], None]:
    """foreachBatch body (F3). Reads the batch once, in ``batch_stats``'s
    aggregate (2 jobs under AQE); the sink's parquet write runs no job,
    and nothing is cached. Registers the batch as a temp view for the
    live-SQL path (EP2)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sink.write(batch_id, batch_stats(batch_df))
        # foreachBatch runs in a cloned session; a plain temp view would
        # be invisible to the main session. Global temp views are
        # app-wide → query as global_temp.documents (EP2,
        # spark/visualize.py:27 semantics).
        batch_df.createOrReplaceGlobalTempView("documents")

    return process


def start_consumer(
    spark: SparkSession,
    source: DataFrame,
    sink: StatsSink,
    checkpoint_dir: str,
    trigger_seconds: int = 10,
    once: bool = False,
):
    """Wire parse → filter → foreachBatch and start the query.

    ``source`` must have (key, value[, timestamp]) — the Kafka wire shape.
    ``once=True`` (tests) processes all available data then stops;
    production uses the reference's 10 s processing-time trigger (F1,
    consumer.py:158)."""
    parsed = consumer_parse(source)
    writer = (
        parsed.writeStream.foreachBatch(make_foreach_batch(sink))
        .outputMode("append")
        .option("checkpointLocation", os.path.join(checkpoint_dir, "consumer"))
    )
    if once:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = 1000,
) -> DataFrame:
    """Production source (A1, consumer.py:119-126) — requires a broker +
    the spark-sql-kafka package; kept behind a function so the rest of the
    pipeline is testable without either."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "false")
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return reader.load()
