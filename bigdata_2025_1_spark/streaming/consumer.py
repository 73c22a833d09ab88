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
- ONE aggregation job per micro-batch (the reference runs 4+ and counts
  twice — consumer.py:36,47,53,71);
- stats go to a STRUCTURED sink (parquet append / in-memory list), shaped
  per export_stats.py:36-42, never scraped from logs;
- registers the batch as temp view ``documents`` so the reference's SQL
  entry point (spark/visualize.py:27) works live.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_2025_1_spark.functions.exact import int_avg
from bigdata_2025_1_spark.sources.kafka_shape import consumer_parse

STATS_SCHEMA = (
    "batch_id BIGINT, ts TIMESTAMP, total_documents BIGINT, "
    "domains MAP<STRING, BIGINT>, "
    "size_stats STRUCT<min_size: BIGINT, max_size: BIGINT, avg_size: DOUBLE, total_size: BIGINT>"
)


def batch_stats(batch_df: DataFrame) -> DataFrame:
    """All of the reference's per-batch statistics as ONE aggregate:
    total count, per-domain counts (as a map), min/max/avg/sum of content
    length (consumer.py:33-100 semantics, single job)."""
    ln = F.length("content")
    per_domain = (
        batch_df.groupBy("domain")
        .agg(
            F.count("*").alias("doc_count"),
            F.min(ln).alias("min_size"),
            F.max(ln).alias("max_size"),
            F.sum(ln).alias("total_size"),
        )
    )
    return per_domain.agg(
        F.sum("doc_count").alias("total_documents"),
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("domain", "doc_count")))
        ).alias("domains"),
        F.struct(
            F.min("min_size").cast("bigint").alias("min_size"),
            F.max("max_size").cast("bigint").alias("max_size"),
            (F.sum("total_size").cast("double") / F.sum("doc_count")).alias("avg_size"),
            F.sum("total_size").cast("bigint").alias("total_size"),
        ).alias("size_stats"),
    )


@dataclass
class StatsSink:
    """Structured replacement for A11 log-scraping: collects one stats row
    per micro-batch; optionally appends to a parquet table."""

    parquet_path: str | None = None
    rows: list[dict] = field(default_factory=list)

    def write(self, batch_id: int, stats_df: DataFrame) -> None:
        # One literal timestamp: the parquet append and the collect are
        # two actions, and current_timestamp() would differ between them.
        stamped = stats_df.select(
            F.lit(batch_id).cast("bigint").alias("batch_id"),
            F.lit(datetime.now(timezone.utc)).alias("ts"),
            "total_documents",
            "domains",
            "size_stats",
        )
        if self.parquet_path:
            stamped.write.mode("append").parquet(self.parquet_path)
        for r in stamped.collect():
            d = r.asDict(recursive=True)
            d["ts"] = d["ts"].isoformat()
            self.rows.append(d)

    def dump_json(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.rows, fh, ensure_ascii=False, indent=2)


def make_foreach_batch(
    sink: StatsSink, register_view: bool = True, verbose: bool = False
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body (F3). Cache once; one agg job; optional sample
    print; temp-view registration for the live-SQL path (EP2)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            stats = batch_stats(batch_df)
            sink.write(batch_id, stats)
            if register_view:
                # foreachBatch runs in a cloned session; a plain temp view
                # would be invisible to the main session. Global temp views
                # are app-wide → query as global_temp.documents (EP2,
                # spark/visualize.py:27 semantics).
                batch_df.createOrReplaceGlobalTempView("documents")
            if verbose:
                for row in batch_df.select("domain", "filename").limit(5).collect():
                    print(f"  sample: {row.domain}/{row.filename}")
        finally:
            batch_df.unpersist()

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
