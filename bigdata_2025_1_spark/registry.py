"""Query registry: the single source of truth behind ``__spark_entry__.py``.

Each operator family module registers its queries here with the ``@query``
decorator. A query is a callable ``(spark, sf_dir) -> DataFrame`` plus an
optional DuckDB-runnable ANSI SQL oracle string with IDENTICAL column names
and value semantics (the driver hash-compares, order-insensitive, columns
sorted by name).

Determinism rules every registered query follows:
- every computed column is aliased, identically in Spark and SQL;
- no un-ordered LIMIT — any top-k orders by a unique tiebreaker;
- double aggregations go through exact integer scaling (``functions.exact``)
  so partition-order / engine differences cannot produce differing bits;
- ANSI-safe Spark (try_element_at / try_cast) since Spark 4 runs ANSI mode.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as query ``name`` with an optional DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle.strip()
        return fn

    return deco


def load_all() -> None:
    """Import every operator module (side effect: registration)."""
    from bigdata_2025_1_spark import operators  # noqa: F401

    operators.load_all()


def all_queries() -> dict[str, QueryFn]:
    """Every registered query, in registration order."""
    load_all()
    return dict(QUERIES)


def all_oracles() -> dict[str, str]:
    load_all()
    return dict(ORACLES)

