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

Cache contract
--------------
Registered queries return LAZY DataFrames; some ``persist()`` shared
intermediates (LSH signatures, graph edge lists, ranking frames) that
must stay cached until the caller materializes the result — so queries
cannot unpersist before returning. The one exception is a release
gate's ``shared`` frames (``functions.overlap.release_gate``): the gate
has materialized every leg before it returns, so it frees them itself.
Every other per-query persist is the CALLER's to release, with
``spark.catalog.clearCache()`` after consuming each query's result.
Both shipped harnesses do (``bench.py`` per run, ``tools/selfcheck.py``
per query; ``tests/test_observe.py`` pins that this leaves zero cached
blocks); an interactive consumer embedding this package should do the
same.
"""

__version__ = "0.1.0"
