"""The consumer's foreachBatch body and its ``StatsSink``.

``StatsSink`` writes each micro-batch's row twice, to parquet and to
``sink.rows``; both copies must carry the same values, ``ts`` included.
The body reads the batch once, in one groupBy, and caches nothing."""

from __future__ import annotations

import json
import uuid

from pyspark.sql import functions as F

from bigdata_2025_1_spark.sources.kafka_shape import consumer_parse
from bigdata_2025_1_spark.streaming.consumer import StatsSink, batch_stats, make_foreach_batch


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


def test_foreach_batch_folds_the_old_aggregate_in_three_jobs(spark, tmp_path):
    """A mixed batch: one groupBy (two jobs under AQE) plus the one-row
    parquet append, nothing cached, and the same row, ``avg_size``
    bit-exact, as the two-level Spark aggregate."""
    docs = [_doc("b.org", "x" * k) for k in (1, 2, 4)] + [_doc("a.com", "yy"), _doc("c.net", "")]
    docs += ["not json", {"domain": "a.com", "filename": None, "content": "z", "file_path": "/p"}]
    batch = _wire(spark, docs)
    before = _persisted_rdds(spark)
    sink = StatsSink(parquet_path=str(tmp_path / "stats.parquet"))

    jobs = _process_counting_jobs(spark, sink, batch, 3)

    assert len(jobs) == 3
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
