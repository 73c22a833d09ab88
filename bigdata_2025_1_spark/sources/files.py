"""File sources & sinks (SURVEY §2.A4, A6-A8, A12).

The reference reads per-document ``.txt`` files from per-domain folders
(kafka/push_data_to_kafka.py:16-35), writes one file per document
(crawl/crawl.py:144-154 — an anti-pattern at any scale), dumps link lists
as a JSON array (crawl.py:137-142), and deploys HDFS without ever writing
to it (hdfs/docker-compose.yml). Spark-first equivalents:

- directory text source: ``spark.read.text(..., wholetext)`` + path
  parsing — one row per document, splittable listing, no driver-side walk;
- document corpus sink: PARTITIONED PARQUET (by domain/date), the
  shape that actually works at 100 TB (partition pruning, predicate
  pushdown, column pruning, stats);
- links JSON: ``spark.read/write.json`` (JSON-lines — the distributed
  form of the reference's single JSON array);
- works identically against ``hdfs://`` / ``s3a://`` URIs — closing the
  reference's HDFS gap is a path-string change, not a code change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_text_tree(spark: SparkSession, root: str) -> DataFrame:
    """A4: read ``{root}/{domain}/*.txt`` → (domain, filename, content,
    file_path) — the producer's record shape (push_data_to_kafka.py:25-30)
    derived from the file path, computed on executors via
    ``input_file_name`` (no driver-side os.walk)."""
    df = (
        spark.read.option("wholetext", True)
        .option("recursiveFileLookup", True)
        .option("pathGlobFilter", "*.txt")
        .text(root)
    )
    path = F.input_file_name()
    parts = F.split(path, "/", -1)
    return df.select(
        F.try_element_at(parts, F.lit(-2)).alias("domain"),
        F.try_element_at(parts, F.lit(-1)).alias("filename"),
        F.col("value").alias("content"),
        path.alias("file_path"),
    )


def write_corpus(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("domain",),
    mode: str = "overwrite",
) -> None:
    """A7/A12 replacement: partitioned parquet corpus table. Partition
    pruning turns per-domain queries into per-directory scans; at 100 TB
    add a date column to the partition spec and size files via
    ``maxRecordsPerFile``/AQE coalescing."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def read_corpus(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_links_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """A6: links {name, link} as JSON-lines (same records as the
    reference's indent-4 array — crawl.py:137-142 — but appendable and
    splittable)."""
    df.select("name", "link").write.mode(mode).json(path)


def read_links_json(spark: SparkSession, path: str) -> DataFrame:
    """A8."""
    return spark.read.schema("name STRING, link STRING").json(path)
