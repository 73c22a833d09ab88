"""Fixture-table IO.

The driver materializes a TPC-H-ish star schema plus ``events`` /
``documents`` / ``embeddings`` at ``/root/testdata/sf*/{table}.parquet``
(see TESTDATA.md / FIXTURES.md). All queries load through here so that a
future move to partitioned/bucketed layouts (or HDFS paths — the reference
deploys HDFS but never writes to it, ``hdfs/docker-compose.yml:4-49``) is a
one-file change.

Each table's parquet schema is resolved once per ``SparkSession``:
inferring it from the footer costs one Spark job per load, so ``load``
keeps the ``StructType`` in a per-session memo and hands it to the reader
on later loads. An entry is keyed by the table path and holds the file
status it was inferred from (``st_size``, ``st_mtime_ns``; for a directory
written by Spark, those of every file under it), so a table rewritten at
the same path is re-inferred. Paths that are not on the local filesystem
are read without the memo.
"""

from __future__ import annotations

import os
import stat
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always be broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SMOKE_SF_DIR = "/root/testdata/sf0.001"

# session -> {path: (file status, schema)}. Leg threads that miss on the
# same path together each infer it once; the schemas they store are equal.
_SCHEMAS: "weakref.WeakKeyDictionary[SparkSession, dict[str, tuple[tuple, StructType]]]" = (
    weakref.WeakKeyDictionary()
)


def _file_status(path: str) -> tuple | None:
    """What a rewrite of ``path`` changes: size and mtime of the file, or
    of every file under a directory. None when ``path`` is not local."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return st.st_size, st.st_mtime_ns
        return tuple(
            sorted(
                (os.path.join(d, f), s.st_size, s.st_mtime_ns)
                for d, _, files in os.walk(path)
                for f in files
                for s in (os.stat(os.path.join(d, f)),)
            )
        )
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema from the session's
    memo when the file status still matches."""
    status = _file_status(path)
    if status is None:
        return spark.read.parquet(path)
    memo = _SCHEMAS.setdefault(spark, {})
    hit = memo.get(path)
    if hit is not None and hit[0] == status:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    memo[path] = (status, df.schema)
    return df


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one fixture table. Column pruning / predicate pushdown happen
    downstream because this stays a plain declarative parquet scan."""
    if table not in TABLES:
        raise KeyError(f"unknown table {table!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{table}.parquet")
    # Deterministic timestamp semantics on EVERY code path: the tuned
    # session (session.py) already pins UTC, but queries also run under
    # driver-owned vanilla sessions — pin here, at the single entry point
    # all queries load through, so no query's timestamp arithmetic
    # depends on which table was loaded first or on the host timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if table == "events":
        # The events fixture has shipped ts two ways across driver rounds:
        # TIMESTAMP(NANOS) (rejected by Spark's reader, [PARQUET_TYPE_ILLEGAL]
        # — read nanos as int64, floor-divide to micros, bit-identical to
        # DuckDB's ns→µs truncation) and TIMESTAMP(MICROS) without a UTC flag
        # (read as TIMESTAMP_NTZ). Normalize both to session-TZ TIMESTAMP so
        # downstream epoch arithmetic (unix_micros, window gaps) type-checks;
        # with the UTC pin above, the NTZ→LTZ cast is value-preserving and
        # matches DuckDB's naive reading.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, path)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to all cores before CPU-heavy per-row work.

    The fixture tables are single small parquet files, which Spark scans as
    ONE partition — fine for IO-bound scans, serial for compute-bound
    stages (hashing, signatures, regex scans). On a real cluster the input
    would already be split; this keeps the local plan shaped the same way.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register every fixture table as a temp view (mirrors the reference's
    ``createOrReplaceTempView('documents')`` SQL entry point,
    spark/visualize.py:27)."""
    for t in tables:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
