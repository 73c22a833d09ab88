"""The shared documents tokenization pass.

``gopher_quality_flags``, ``blocklist_filter_rates``,
``mannwhitney_fertility_drift`` and the dedup family's ``_signatures``
all tokenize ``documents`` with the same expression,
``ws_tokens(lower(text))``. They build it from :func:`doc_lt_toks`, so a
gate that composes several of them can pass the one frame as
``release_gate(shared=...)``; Spark's plan-keyed CacheManager then
substitutes every leg's identical subtree with the one cached pass.
Built standalone, the frame is a plain projection and is not cached.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_2025_1_spark.functions import text as T
from bigdata_2025_1_spark.io import load, spread


def doc_lt_toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, source, lt, toks)`` over the spread documents scan:
    ``lt`` = lowercased text, ``toks`` = the shared whitespace
    tokenization. Cached only where several consumers read it: the
    cache holds about twice the text width."""
    docs = spread(load(spark, sf_dir, "documents"))
    lt = F.lower(F.col("text"))
    return docs.select(
        "doc_id", "source", lt.alias("lt"), T.ws_tokens(lt).alias("toks")
    )
