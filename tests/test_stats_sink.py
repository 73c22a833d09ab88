"""The consumer's foreachBatch body and its ``StatsSink``.

``StatsSink`` writes each micro-batch's row twice, to parquet and to
``sink.rows``; both copies must carry the same values, ``ts`` included.
The parquet copy is one file per (query, batch), so a replayed batch
overwrites its row. The body reads the batch once, in one groupBy, and
caches nothing."""

from __future__ import annotations

import json
import os
import uuid

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bigdata_2025_1_spark.sources.kafka_shape import consumer_parse
from bigdata_2025_1_spark.streaming.consumer import (
    STATS_BODY,
    STATS_SCHEMA,
    StatsSink,
    batch_stats,
    make_foreach_batch,
    start_consumer,
)


def test_parquet_row_equals_sink_row(spark, tmp_path):
    path = str(tmp_path / "stats.parquet")
    sink = StatsSink(parquet_path=path)
    batch = spark.createDataFrame(
        [("a.com", "xx"), ("a.com", "xxxx"), ("b.org", "x")], "domain STRING, content STRING"
    )
    sink.write(7, batch_stats(batch))

    (stored,) = spark.read.parquet(path).collect()
    stored = stored.asDict(recursive=True)
    stored["ts"] = stored["ts"].isoformat()
    assert sink.rows == [stored]
    assert stored["batch_id"] == 7 and stored["total_documents"] == 3


def _old_two_level_stats(batch):
    """The aggregate this consumer ran before the per-domain rows were
    folded on the driver, kept as the reference for the folded row."""
    ln = F.length("content")
    per_domain = batch.groupBy("domain").agg(
        F.count("*").alias("doc_count"),
        F.min(ln).alias("min_size"),
        F.max(ln).alias("max_size"),
        F.sum(ln).alias("total_size"),
    )
    (row,) = per_domain.agg(
        F.sum("doc_count").alias("total_documents"),
        F.map_from_entries(F.array_sort(F.collect_list(F.struct("domain", "doc_count")))).alias("domains"),
        F.struct(
            F.min("min_size").cast("bigint").alias("min_size"),
            F.max("max_size").cast("bigint").alias("max_size"),
            (F.sum("total_size").cast("double") / F.sum("doc_count")).alias("avg_size"),
            F.sum("total_size").cast("bigint").alias("total_size"),
        ).alias("size_stats"),
    ).collect()
    return row.asDict(recursive=True)


def _wire(spark, docs):
    """Kafka-shaped (key, value) rows through the consumer's parse stage."""
    rows = [(str(i), v if isinstance(v, str) else json.dumps(v)) for i, v in enumerate(docs)]
    return consumer_parse(spark.createDataFrame(rows, "key STRING, value STRING"))


def _doc(domain, content):
    return {"domain": domain, "filename": f"f{len(content)}", "content": content, "file_path": "/p"}


def _process_counting_jobs(spark, sink, batch, batch_id):
    """Run the foreachBatch body under a fresh job group; return its job ids."""
    sc = spark.sparkContext
    group = f"consumer-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        make_foreach_batch(sink)(batch, batch_id)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job-start events are posted asynchronously
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _persisted_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_foreach_batch_folds_the_old_aggregate_in_two_jobs(spark, tmp_path):
    """A mixed batch: one groupBy (two jobs under AQE), a parquet write
    that runs no job, nothing cached, and the same row, ``avg_size``
    bit-exact, as the two-level Spark aggregate."""
    docs = [_doc("b.org", "x" * k) for k in (1, 2, 4)] + [_doc("a.com", "yy"), _doc("c.net", "")]
    docs += ["not json", {"domain": "a.com", "filename": None, "content": "z", "file_path": "/p"}]
    batch = _wire(spark, docs)
    before = _persisted_rdds(spark)
    sink = StatsSink(parquet_path=str(tmp_path / "stats.parquet"))

    jobs = _process_counting_jobs(spark, sink, batch, 3)

    assert len(jobs) == 2
    assert _persisted_rdds(spark) <= before
    (row,) = sink.rows
    want = _old_two_level_stats(batch)
    assert {k: row[k] for k in want} == want
    assert row["size_stats"]["avg_size"].hex() == want["size_stats"]["avg_size"].hex()
    assert row["total_documents"] == 5 and list(row["domains"]) == ["a.com", "b.org", "c.net"]


def test_foreach_batch_of_only_rejected_rows(spark, tmp_path):
    """Every message rejected by the parse stage: NULL count and sizes,
    an empty ``domains`` map, in ``sink.rows`` and in the parquet copy."""
    batch = _wire(spark, ["not json", {"domain": None, "filename": "f", "content": "x"}])
    path = str(tmp_path / "stats.parquet")
    sink = StatsSink(parquet_path=path)

    make_foreach_batch(sink)(batch, 0)

    (row,) = sink.rows
    assert row["total_documents"] is None and row["domains"] == {}
    assert row["size_stats"] == dict.fromkeys(("min_size", "max_size", "avg_size", "total_size"))
    (stored,) = spark.read.parquet(path).collect()
    stored = stored.asDict(recursive=True)
    stored["ts"] = stored["ts"].isoformat()
    assert stored == row


def _spark_append(spark, path, batch_id, stats):
    """The one-row Spark append the sink wrote before it wrote parquet on
    the driver: its ``ts`` column is an INT96 timestamp."""
    spark.range(1, numPartitions=1).select(
        F.lit(batch_id).cast("bigint").alias("batch_id"),
        F.current_timestamp().alias("ts"),
        F.from_json(F.lit(json.dumps(stats)), STATS_BODY).alias("s"),
    ).select("batch_id", "ts", "s.*").write.mode("append").parquet(path)


def test_parquet_schema_and_old_spark_files(spark, tmp_path):
    """The driver-written files read back as ``STATS_SCHEMA``, and a
    table that already holds a Spark-appended file reads every row."""
    path = str(tmp_path / "stats.parquet")
    batch = spark.createDataFrame([("a.com", "xy")], "domain STRING, content STRING")
    sink = StatsSink(parquet_path=path)
    sink.write(1, batch_stats(batch))
    sink.write(2, batch_stats(batch.limit(0)))
    assert spark.read.parquet(path).schema == StructType.fromDDL(STATS_SCHEMA)

    _spark_append(spark, path, 0, batch_stats(batch))
    (old,) = [f for f in os.listdir(path) if f.startswith("part-")]
    assert pq.ParquetFile(os.path.join(path, old)).schema.column(1).physical_type == "INT96"
    rows = spark.read.parquet(path).orderBy("batch_id").collect()
    assert [(r.batch_id, r.total_documents) for r in rows] == [(0, 1), (1, 1), (2, None)]
    assert all(r.ts is not None for r in rows)


def _drain(spark, src, stats, ckpt):
    """Run the consumer over everything in ``src`` (one file per batch)."""
    sink = StatsSink(parquet_path=stats)
    stream = spark.readStream.schema("key STRING, value STRING").option("maxFilesPerTrigger", 1)
    q = start_consumer(spark, stream.parquet(src), sink, ckpt, once=True)
    q.awaitTermination(120)
    return sink


def _stored(spark, stats):
    return sorted((r.batch_id, r.ts, r.total_documents) for r in spark.read.parquet(stats).collect())


def test_replayed_batch_overwrites_its_row(spark, tmp_path):
    """foreachBatch is at-least-once: with its last commit-log entry gone,
    a restarted consumer runs that batch again. The table still holds one
    row per batch, the replayed batch's row is the new one, and a second
    consumer on a fresh checkpoint adds its rows beside the first's."""
    src, stats = str(tmp_path / "src"), str(tmp_path / "stats")
    for k in range(3):
        rows = [(f"{k}-{i}", json.dumps(_doc(f"d{i % 2}", "c" * (k + 1)))) for i in range(4)]
        spark.createDataFrame(rows, "key STRING, value STRING").coalesce(1).write.mode("append").parquet(src)
    ckpt = str(tmp_path / "ckpt")
    assert [r["batch_id"] for r in _drain(spark, src, stats, ckpt).rows] == [0, 1, 2]

    commits = os.path.join(ckpt, "consumer", "commits")
    for name in ("2", ".2.crc"):
        os.remove(os.path.join(commits, name))
    replay = _drain(spark, src, stats, ckpt)
    assert [r["batch_id"] for r in replay.rows] == [2]

    first = _stored(spark, stats)
    assert [b for b, _, _ in first] == [0, 1, 2]
    assert first[2][1].isoformat() == replay.rows[0]["ts"]
    assert [n for _, _, n in first] == [4, 4, 4]

    _drain(spark, src, stats, str(tmp_path / "ckpt_other"))
    both = _stored(spark, stats)
    assert len(both) == 6 and set(first) <= set(both)
    assert sorted(b for b, _, _ in both) == [0, 0, 1, 1, 2, 2]
