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
from typing import Any

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# The driver walks ``queries()`` in dict order and checks exactly the
# first 50 entries per round (each CORRECTNESS_r0N covers 50), so order
# is a correctness lever. The head follows the rotation convention that
# ``python tools/rotation.py verify`` checks: never-checked additions in
# registration order, then judge-directed pins, then the oldest-vintage
# greens alphabetical. This head is ``python tools/rotation.py next``
# after CORRECTNESS_r15.json landed: no additions, no pins, and 50
# refreshes led by the two r8 greens the round-15 pins displaced
# (domain_doc_stats, eb_shrunk_supplier_rates).
PRIORITY_HEAD: tuple[str, ...] = (
    "domain_doc_stats",
    "eb_shrunk_supplier_rates",
    "events_json_decode",
    "gini_stump_threshold",
    "global_size_stats",
    "hill_tail_index",
    "ipf_raking_weights",
    "isotonic_calibration",
    "jarque_bera_order_values",
    "kendall_tau_qty_discount",
    "kmv_intersection_estimate",
    "kneser_ney_bigram",
    "ks_value_drift",
    "linear_attribution_revenue",
    "link_prediction_trade",
    "mahalanobis_outliers",
    "mann_whitney_segment_spend",
    "median_ci_orderstat",
    "metadata_extract",
    "negative_sampling_pairs",
    "neyman_allocation",
    "qini_uplift_curve",
    "risk_ratio_odds_ratio",
    "roc_auc_holdout",
    "sequence_packing",
    "shapley_variance_attribution",
    "spearman_qty_price",
    "stratified_source_cap",
    "string_functions_showcase",
    "udtf_bigrams",
    "woe_information_value",
    "wordcount",
    "ann_topk_cosine",
    "anti_join_idle_customers",
    "array_map_builders",
    "bloom_filter_membership",
    "cramers_v_association",
    "customer_running_spend",
    "dedup_char_ngram_jaccard",
    "dedup_connected_components",
    "dedup_embedding_cosine",
    "dedup_exact",
    "dedup_first_event_per_user_type",
    "difference_in_differences",
    "distinct_counts",
    "doc_fingerprints",
    "doc_pii_redaction",
    "doc_quality_scores",
    "durbin_watson_hourly",
    "events_hourly_windows",
)

# Judge-directed pins: names with an existing CORRECTNESS row that must
# be re-checked before their vintage comes up. They sit right after the
# never-checked prefix, and the vintage fill skips them. Reset each round.
PRIORITY_PINS: tuple[str, ...] = ()

# Proven green in round 2 against current code: after the 50-row window.
PRIORITY_TAIL: tuple[str, ...] = ()


def _ordered(names: list[str]) -> list[str]:
    head = [n for n in PRIORITY_HEAD if n in names]
    tail = [n for n in PRIORITY_TAIL if n in names]
    placed = set(head) | set(tail)
    return head + [n for n in names if n not in placed] + tail


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
    load_all()
    return {n: QUERIES[n] for n in _ordered(list(QUERIES))}


def all_oracles() -> dict[str, str]:
    load_all()
    return {n: ORACLES[n] for n in _ordered(list(ORACLES))}


def describe() -> list[dict[str, Any]]:
    load_all()
    return [
        {"name": n, "has_oracle": n in ORACLES, "doc": (f.__doc__ or "").strip().splitlines()[0] if f.__doc__ else ""}
        for n, f in sorted(QUERIES.items())
    ]
