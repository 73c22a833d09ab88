"""bigdata_2025_1_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query / data-processing
capabilities of the reference repo ``phucle1901/Bigdata-2025.1`` (a legal-
document collect/store/process/analyze pipeline), extended with the
relational-analytics and LLM-data-pipeline operators its charter requires
(joins, windows, rollup/cube, dedup, similarity search, text analysis,
streaming with watermarks).

Layout
------
- ``session``    — SparkSession factory (AQE on, Arrow on, tuned shuffle).
- ``io``         — fixture table loaders / temp-view registration.
- ``registry``   — the (query name → DataFrame fn, oracle SQL) registry that
                   ``__spark_entry__.py`` exposes to the driver.
- ``operators/`` — query/operator implementations, grouped by family.
- ``functions/`` — reusable column-expression builders (text, metadata,
                   vectors, HTML→markdown pandas UDF).
- ``sources/``   — batch/stream source & sink shapes (Kafka message shape,
                   directory text source, stats sink).
- ``streaming/`` — Structured Streaming pipelines (consumer, windowed aggs).
- ``plans/``     — plan-inspection helpers (explain capture, scale notes).

Everything here is public-API PySpark; no reference code is copied (the
reference is cited by file:line in docstrings for semantic parity only).

Materialization
---------------
No registered query leaves a CacheManager entry. A frame read more than
once is ``localCheckpoint()``-ed and needs no ``unpersist()``: Spark's
ContextCleaner frees its blocks once the returned DataFrame is
garbage-collected on the driver, which waits for a driver JVM GC (at
the latest ``spark.cleaner.periodicGC.interval``, 30 min by default).
The one ``persist()`` is ``functions.overlap.release_gate(shared=...)``,
which frees its shared frames before it returns. The trade: local
checkpoints have no lineage, so losing an executor loses their blocks
and fails the query, which reruns from its source tables when called
again; ``functions.iterate.iterate`` offers ``reliable=True`` for loops
long enough to need a checkpoint directory.
"""

__version__ = "0.1.0"
