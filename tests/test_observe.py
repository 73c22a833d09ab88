"""Production observability: df.observe() accumulates named metrics ON
the existing action (no second scan) — how a 100 TB pipeline counts
rows-in/rows-dropped per stage without paying extra passes. (Contrast
df.count() bookkeeping, which re-runs the plan.)"""

from __future__ import annotations

from pyspark.sql import Observation
from pyspark.sql import functions as F

from bigdata_2025_1_spark.io import load


def test_observe_piggybacks_quality_metrics(spark, sf_dir):
    obs = Observation("quality")
    docs = load(spark, sf_dir, "documents")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(F.when(F.col("n_chars") < 50, 1).otherwise(0)).alias("too_short"),
    )
    kept = observed.filter(F.col("n_chars") >= 50)
    n_kept = kept.count()  # ONE action drives both the filter and the metrics
    m = obs.get
    assert m["rows_in"] == docs.count()
    assert m["rows_in"] - m["too_short"] == n_kept


def test_observe_on_streaming_batch(spark, sf_dir, tmp_path):
    """observe() also works per-micro-batch in structured streaming (the
    streaming-metrics story); here the batch form doubles as the
    foreachBatch stats pattern without a cache+second-agg."""
    obs = Observation("ev")
    ev = load(spark, sf_dir, "events").observe(
        obs, F.count(F.lit(1)).alias("n"), F.max("value").alias("max_value")
    )
    ev.write.mode("overwrite").parquet(str(tmp_path / "sink.parquet"))
    m = obs.get
    assert m["n"] == load(spark, sf_dir, "events").count()


def test_queries_leave_no_cache_entries(spark, sf_dir):
    """Materialization rule (bigdata_2025_1_spark/__init__.py): a
    registered query leaves no CacheManager entry behind, with no
    clearCache() by the caller, and the RDD blocks it materializes go
    once its result is dropped (Spark's ContextCleaner frees a local
    checkpoint after a driver JVM garbage collection) — pinned on
    queries that read a frame several times, one from each family (LSH
    dedup, graph, corpus capstone). ``oracle.check_query`` applies the
    entry rule to every query it checks."""
    import gc
    import time

    from bigdata_2025_1_spark.oracle import cache_entries
    from bigdata_2025_1_spark.registry import all_queries

    sc = spark.sparkContext

    def stored() -> set[int]:
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    queries = all_queries()
    materialized = 0
    for q in (
        "dedup_minhash_lsh",
        "hyperball_harmonic_trade",
        "corpus_curation_v2",
    ):
        before, held = cache_entries(spark), stored()
        queries[q](spark, sf_dir).collect()
        assert cache_entries(spark) == before, f"{q} left cache entries"
        made = stored() - held
        materialized += len(made)
        deadline = time.monotonic() + 60
        while made & stored() and time.monotonic() < deadline:
            gc.collect()
            sc._jvm.System.gc()
            time.sleep(0.2)
        assert not made & stored(), f"{q} left RDD blocks {sorted(made & stored())}"
    assert materialized, "no query materialized a block: the block check is vacuous"
