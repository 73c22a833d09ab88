"""Per-query fixed costs of the session and IO layers.

``io.load`` resolves a table's parquet schema once per session, so a
repeated load starts no Spark job; a table rewritten at the same path is
re-inferred. ``session.get_spark`` lets AQE coalesce the shuffle output of
a cached plan, so a tiny persisted aggregate is not read back at
``spark.sql.shuffle.partitions`` partitions."""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bigdata_2025_1_spark.io import load


def _jobs_started_by(spark, fn) -> list[int]:
    """Run ``fn`` under a fresh job group; return the ids of its jobs."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _write_region(spark, path: str, layout: str, with_comment: bool) -> None:
    rows = {"r_regionkey": [0, 1], "r_name": ["AFRICA", "AMERICA"]}
    if with_comment:
        rows["r_comment"] = ["a", "b"]
    if layout == "file":
        pq.write_table(pa.table(rows), path)
    else:
        cols = list(rows)
        data = list(zip(*rows.values()))
        spark.createDataFrame(data, cols).coalesce(1).write.mode("overwrite").parquet(path)


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_repeated_load_starts_no_job_and_rewrite_is_reinferred(spark, tmp_path, layout):
    path = str(tmp_path / "region.parquet")
    _write_region(spark, path, layout, with_comment=False)

    first = _jobs_started_by(spark, lambda: load(spark, str(tmp_path), "region"))
    assert first, "the first load infers the schema from the parquet footer"
    again = _jobs_started_by(spark, lambda: load(spark, str(tmp_path), "region"))
    assert again == []

    _write_region(spark, path, layout, with_comment=True)
    df = load(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(tuple(r) for r in df.collect()) == [(0, "AFRICA", "a"), (1, "AMERICA", "b")]


def test_persisted_aggregate_is_coalesced(spark):
    df = spark.range(100).groupBy((F.col("id") % 3).alias("k")).count().persist()
    try:
        assert df.count() == 3
        assert df.rdd.getNumPartitions() < int(spark.conf.get("spark.sql.shuffle.partitions"))
    finally:
        df.unpersist()
