"""The registry hands out queries and oracles in registration order."""

from __future__ import annotations

from bigdata_2025_1_spark.registry import QUERIES, all_oracles, all_queries, load_all


def test_all_queries_and_oracles_follow_registration_order():
    load_all()
    assert list(all_queries()) == list(QUERIES)
    rank = {n: i for i, n in enumerate(QUERIES)}
    oracle_ranks = [rank[n] for n in all_oracles()]
    assert oracle_ranks == sorted(oracle_ranks)
