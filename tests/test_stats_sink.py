"""``StatsSink`` writes each micro-batch's row twice, to parquet and to
``sink.rows``; both copies must carry the same values, ``ts`` included."""

from __future__ import annotations

from bigdata_2025_1_spark.streaming.consumer import StatsSink, batch_stats


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
