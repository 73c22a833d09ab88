"""Round-5 second batch: skyline sweep (+ prefix-min primitive), vocab
frequency spectrum, per-source KL, Benford audit."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from bigdata_2025_1_spark.plans.explain import (
    single_partition_exchange_inputs,
    window_node_inputs,
)
from bigdata_2025_1_spark.registry import all_queries

QUERIES = all_queries()


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.data_too_large,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 300), st.integers(0, 60)), min_size=0, max_size=120
    )
)
def test_prefix_min_matches_sequential(spark, points):
    """with_prefix_min == the sequential exclusive running min, for any
    key distribution (dups in the value column, any partition count)."""
    from bigdata_2025_1_spark.functions.ranks import with_prefix_min

    rows = [(i, v) for i, (_, v) in enumerate(points)]
    if not rows:
        return
    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        r.k: r.pm for r in with_prefix_min(df, ["k"], "v", out_col="pm").collect()
    }
    run = None
    for k, v in rows:
        assert got[k] == run, (k, got[k], run)
        run = v if run is None else min(run, v)


def test_skyline_no_single_partition_window(spark, sf_dir, query_plan):
    df = QUERIES["skyline_price_size"](spark, sf_dir)
    plan = query_plan(df)
    assert "Exchange SinglePartition" not in plan
    assert single_partition_exchange_inputs(plan) == []
    # sweep, not a global window: every window is partition-local
    assert all("_pid" in i for i in window_node_inputs(plan))
    rows = df.collect()
    # frontier shape: strictly increasing price, strictly decreasing size
    prices = [r.price_cents for r in rows]
    sizes = [r.size for r in rows]
    assert prices == sorted(prices)
    assert all(a > b for a, b in zip(sizes, sizes[1:])), sizes


def test_skyline_matches_bruteforce(spark, sf_dir):
    from pyspark.sql import functions as F

    from bigdata_2025_1_spark.io import load

    pts = {
        (r.pc, r.sz)
        for r in load(spark, sf_dir, "part")
        .select(
            F.round(F.col("p_retailprice") * 100).cast("bigint").alias("pc"),
            F.col("p_size").cast("bigint").alias("sz"),
        )
        .distinct()
        .collect()
    }
    expected = {
        (p, s)
        for (p, s) in pts
        if not any(
            bp <= p and bs <= s and (bp < p or bs < s) for (bp, bs) in pts
        )
    }
    got = {
        (r.price_cents, r.size)
        for r in QUERIES["skyline_price_size"](spark, sf_dir).collect()
    }
    assert got == expected


def test_frequency_spectrum_conserves_types_and_mass(spark, sf_dir):
    from pyspark.sql import functions as F

    from bigdata_2025_1_spark.functions import text as T
    from bigdata_2025_1_spark.io import load

    rows = QUERIES["vocab_frequency_spectrum"](spark, sf_dir).collect()
    ucnt = (
        load(spark, sf_dir, "documents")
        .select(F.explode(T.ws_tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .count()
    )
    n_types, mass = ucnt.count(), ucnt.agg(F.sum("count")).first()[0]
    assert sum(r.n_types for r in rows) == n_types
    assert sum(r.token_mass for r in rows) == mass
    classes = [r.freq_class for r in rows]
    assert classes == sorted(classes)
    # every class > 10 is a power of two
    for c in classes:
        if c > 10:
            assert c & (c - 1) == 0, c


def test_source_kl_nonnegative(spark, sf_dir):
    rows = QUERIES["source_token_kl"](spark, sf_dir).collect()
    assert len(rows) >= 2
    for r in rows:
        # Gibbs: KL >= 0, up to the 1e-6 ln-rounding contract
        assert r.kl_nats >= -1e-5, r
        assert 0 < r.vocab <= r.n_tokens


def test_benford_shares_and_deviations(spark, sf_dir):
    rows = QUERIES["benford_price_audit"](spark, sf_dir).collect()
    assert {r.digit for r in rows} <= set(range(1, 10))
    assert abs(sum(r.obs_share for r in rows) - 1.0) < 1e-9
    # benford shares are the canonical constants
    assert abs(sum(r.benford_share for r in rows) - 1.0) < 1e-3
    for r in rows:
        # dev_i6n is exactly n_obs*1e6 - N*p_i6
        assert r.dev_i6n == r.n_obs * 1_000_000 - sum(
            x.n_obs for x in rows
        ) * round(r.benford_share * 1e6)


def test_prefix_min_exact_beyond_double_precision(spark):
    """Values >= 2^53 must survive exactly (the e12-scaled fixed-point
    range) — a float64 shift/fillna implementation fails this."""
    from bigdata_2025_1_spark.functions.ranks import with_prefix_min

    base = (1 << 60) + 1
    rows = [(i, base + ((i * 37) % 11)) for i in range(40)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {r.k: r.pm for r in with_prefix_min(df, ["k"], "v", out_col="pm").collect()}
    run = None
    for k, v in rows:
        assert got[k] == run, (k, got[k], run)
        run = v if run is None else min(run, v)


def test_prefix_min_rejects_nulls(spark):
    import pytest as _pytest

    from bigdata_2025_1_spark.functions.ranks import with_prefix_min

    df = spark.createDataFrame([(1, 5), (2, None)], "k long, v long")
    with _pytest.raises(Exception, match="non-null"):
        with_prefix_min(df, ["k"], "v").collect()


def test_global_rank_prefix_rejects_nulls(spark):
    import pytest as _pytest

    from bigdata_2025_1_spark.functions.ranks import with_global_rank

    df = spark.createDataFrame([(1, 5), (2, None)], "k long, v long")
    with _pytest.raises(Exception, match="non-null"):
        with_global_rank(df, ["k"], prefix_of="v").collect()


def test_rank_helpers_start_no_python_worker(spark, query_plan):
    """Every form of the ranking helpers plans with native expressions
    only: no Python evaluation node, so no Python worker starts."""
    from pyspark.sql import functions as F

    from bigdata_2025_1_spark.functions.ranks import with_global_rank, with_prefix_min

    df = spark.range(0, 50).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    for out in (
        with_global_rank(df, ["k"]),
        with_global_rank(df, ["k"], prefix_of="v"),
        with_prefix_min(df, ["k"], "v"),
    ):
        plan = query_plan(out)
        for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "PythonUDF"):
            assert node not in plan, node
    spark.catalog.clearCache()
