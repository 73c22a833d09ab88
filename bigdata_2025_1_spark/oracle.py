"""DuckDB-oracle comparison — the library behind tools/selfcheck.py and
tests/test_oracle.py. Mirrors the driver's gate: row count, column-name
set, order-insensitive exact values (columns sorted by name)."""

from __future__ import annotations

import math
from typing import Any

import duckdb

from bigdata_2025_1_spark.io import TABLES


def connect_oracle(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm_cell(v: Any) -> Any:
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_cell(x)) for k, x in v.items()))
    return v


def canon(rows: list[tuple], cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return out


def compare(
    spark_rows: list[tuple],
    spark_cols: list[str],
    duck_rows: list[tuple],
    duck_cols: list[str],
) -> list[str]:
    """Return a list of problems (empty = match)."""
    problems: list[str] = []
    if len(spark_rows) != len(duck_rows):
        problems.append(f"rowcount spark={len(spark_rows)} duckdb={len(duck_rows)}")
    if sorted(spark_cols) != sorted(duck_cols):
        problems.append(
            f"columns spark={sorted(spark_cols)} duckdb={sorted(duck_cols)}"
        )
    if not problems:
        a, b = canon(spark_rows, spark_cols), canon(duck_rows, duck_cols)
        if a != b:
            n_bad = sum(1 for x, y in zip(a, b) if x != y)
            problems.append(f"values differ in {n_bad}/{len(a)} rows")
            for x, y in zip(a, b):
                if x != y:
                    problems.append(f"  spark : {x!r}")
                    problems.append(f"  duckdb: {y!r}")
                    break
    return problems


def compare_dtype_kinds(spark_pdf, duck_pdf) -> list[str]:
    """Flag numeric-kind mismatches between the two pandas materializations.

    The driver canonicalizes through pandas, where dtypes bite: DuckDB
    widens SUM(integer) to HUGEINT, which pandas converts to float64 while
    Spark's int64 stays integer — equal values, different hash. Python-level
    value comparison (``compare``) cannot see this, so mirror the driver by
    comparing dtype *kinds* for numeric columns (int vs float matters;
    int32 vs int64 hashes identically under pandas and is allowed).
    """
    problems: list[str] = []
    for c in sorted(set(spark_pdf.columns) & set(duck_pdf.columns)):
        sk, dk = spark_pdf[c].dtype.kind, duck_pdf[c].dtype.kind
        numeric = {"i", "u", "f"}
        if sk in numeric and dk in numeric:
            s_float, d_float = sk == "f", dk == "f"
            if s_float != d_float:
                problems.append(
                    f"dtype kind mismatch on {c!r}: spark={spark_pdf[c].dtype} "
                    f"duckdb={duck_pdf[c].dtype} (HUGEINT/decimal widening? "
                    f"CAST the oracle output to BIGINT/DOUBLE)"
                )
    return problems


def cache_entries(spark) -> int:
    """The session's CacheManager entry count."""
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def check_query(spark, con, fn, sql: str | None, sf_dir: str) -> list[str]:
    """Run one registered query against its oracle; [] = pass. A query
    that leaves a CacheManager entry behind fails too: queries
    materialize with ``localCheckpoint()``, and ``release_gate`` frees
    the frames it shares before it returns."""
    before = cache_entries(spark)
    sdf = fn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    left = cache_entries(spark) - before
    leaks = [f"left {left} CacheManager entries"] if left > 0 else []
    if sql is None:
        return leaks  # rows-only check
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    problems = leaks + compare(srows, scols, drows, dcols)
    if not problems:
        # dtype-kind check on schema-only frames: LIMIT 0 keeps both
        # engines' declared dtypes (HUGEINT/DECIMAL still surface as
        # float64/object vs Spark's int64) without re-running the full
        # query on each side, which previously doubled gate wall-clock.
        problems = compare_dtype_kinds(
            sdf.limit(0).toPandas(),
            con.execute(f"SELECT * FROM ({sql}) AS q LIMIT 0").df(),
        )
    return problems
