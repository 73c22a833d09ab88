"""hdbscan_lite_from_pairs vs a scalar BFS reference on random pair
frames (the test_r6_property dbscan convention), plus the hierarchy
pin: eps1's clusters must nest inside eps2's on the real fixture —
the property that makes the two levels a slice of the HDBSCAN tree
rather than two unrelated clusterings."""

from __future__ import annotations

import random

from bigdata_2025_1_spark.operators.similarity import (
    HDB_EPS,
    HDB_K,
    hdbscan_lite_from_pairs,
)
from bigdata_2025_1_spark.registry import all_queries

import pytest


def _ref_hdbscan_lite(ids, pairs, k, eps_levels):
    """Scalar reference: per-point k-th-smallest incident distance,
    mutual reachability max(d, core_a, core_b), per-level BFS
    components over cores."""
    inc = {i: [] for i in ids}
    for a, b, d in pairs:
        inc[a].append(d)
        inc[b].append(d)
    core = {}
    for i in ids:
        ds = sorted(inc[i])
        if len(ds) >= k:
            core[i] = ds[k - 1]
    out = {}
    for eps in eps_levels:
        cores_l = {i for i, c in core.items() if c <= eps}
        adj = {i: set() for i in cores_l}
        for a, b, d in pairs:
            if a in core and b in core and max(d, core[a], core[b]) <= eps:
                adj[a].add(b)
                adj[b].add(a)
        label = {}
        for s in sorted(cores_l):
            if s in label:
                continue
            comp, stack, seen = [], [s], {s}
            while stack:
                u = stack.pop()
                comp.append(u)
                for v in adj[u]:
                    if v not in seen:
                        seen.add(v)
                        stack.append(v)
            m = min(comp)
            for u in comp:
                label[u] = m
        for i in ids:
            out[(eps, i)] = (core.get(i), i in cores_l, label.get(i))
    return out


@pytest.mark.slow
def test_hdbscan_lite_matches_reference_on_random_graphs(spark):
    rng = random.Random(11)
    for trial in range(5):
        n = rng.randint(4, 14)
        ids = list(range(n))
        und = {
            tuple(sorted((rng.randrange(n), rng.randrange(n))))
            for _ in range(rng.randint(0, 30))
        }
        pairs = sorted(
            (a, b, rng.randrange(1, 13) / 10) for a, b in und if a != b
        )
        k = rng.choice((1, 2, 3))
        eps_levels = (0.5, 0.9)
        ids_df = spark.createDataFrame([(i,) for i in ids], "vec_id long")
        pairs_df = (
            spark.createDataFrame(pairs, "a long, b long, d double")
            if pairs
            else spark.createDataFrame([], "a long, b long, d double")
        )
        got = {
            (r.eps, r.vec_id): (r.core_dist, r.is_core, r.cluster_id)
            for r in hdbscan_lite_from_pairs(
                ids_df, pairs_df, k, eps_levels
            ).collect()
        }
        assert got == _ref_hdbscan_lite(ids, pairs, k, eps_levels), (
            trial,
            pairs,
            k,
        )
        spark.catalog.clearCache()


def test_hdbscan_lite_hierarchy_nests_on_fixture(spark, sf_dir):
    """At eps1 < eps2: every eps1 core is an eps2 core, and two points
    co-clustered at eps1 stay co-clustered at eps2 (mutual-reachability
    graphs are monotone in eps) — the hierarchy-slice property."""
    rows = all_queries()["hdbscan_lite_clusters"](spark, sf_dir).collect()
    eps1, eps2 = HDB_EPS
    l1 = {r.vec_id: r for r in rows if r.eps == eps1}
    l2 = {r.vec_id: r for r in rows if r.eps == eps2}
    assert set(l1) == set(l2) and len(l1) > 0
    assert any(r.is_core for r in l1.values())  # non-degenerate slice
    for vid, r in l1.items():
        if r.is_core:
            assert l2[vid].is_core, vid
    # co-membership at eps1 implies co-membership at eps2
    from collections import defaultdict

    by_c1 = defaultdict(list)
    for vid, r in l1.items():
        if r.cluster_id is not None:
            by_c1[r.cluster_id].append(vid)
    for members in by_c1.values():
        parents = {l2[v].cluster_id for v in members}
        assert len(parents) == 1 and None not in parents, members
    spark.catalog.clearCache()


def test_hdbscan_lite_under_k_candidates_is_all_noise(spark):
    """Two points with one pair and k=3: nobody has a 3rd neighbor, so
    no core distance exists and every point is noise at every level."""
    ids_df = spark.createDataFrame([(0,), (1,), (2,)], "vec_id long")
    pairs_df = spark.createDataFrame([(0, 1, 0.1)], "a long, b long, d double")
    rows = hdbscan_lite_from_pairs(ids_df, pairs_df, HDB_K, HDB_EPS).collect()
    assert len(rows) == 6
    assert all(
        r.core_dist is None and not r.is_core and r.cluster_id is None
        for r in rows
    )
    spark.catalog.clearCache()


@pytest.mark.slow
def test_hdbscan_level2_seeding_reduces_iterations(spark, monkeypatch):
    """VERDICT r10 ask #3: level 2 seeds its labels from level 1's
    converged components (valid by the nesting property), so on a graph
    where eps2 chains many eps1 clusters the propagation loop needs
    roughly half the hops. Pin BOTH the correctness (output identical
    to running level 2 alone, which uses identity init) and the
    iteration saving on a 16-segment chain: eps1 links pairs
    (2i, 2i+1); eps2 links the whole chain. The round counts are read
    from ``functions.iterate.iterate``, which each level's propagation
    calls once."""
    from bigdata_2025_1_spark.functions import iterate as it

    rounds_run: list[int] = []
    real_iterate = it.iterate

    def recording_iterate(*args, **kwargs):
        state, n_rounds = real_iterate(*args, **kwargs)
        rounds_run.append(n_rounds)
        return state, n_rounds

    monkeypatch.setattr(it, "iterate", recording_iterate)

    n = 32  # nodes 0..31 in a path; intra-pair d=0.1, cross-pair d=0.5
    ids_df = spark.createDataFrame([(i,) for i in range(n)], "vec_id long")
    pairs = [
        (i, i + 1, 0.1 if i % 2 == 0 else 0.5) for i in range(n - 1)
    ]
    pairs_df = spark.createDataFrame(pairs, "a long, b long, d double")
    # k=1: core_dist = min incident d = 0.1 everywhere; dmr(intra)=0.1,
    # dmr(cross)=0.5 -> eps1=0.2 gives the 16 pair-clusters, eps2=0.6
    # gives one 32-node chain component
    got = {
        (r.eps, r.vec_id): (r.core_dist, r.is_core, r.cluster_id)
        for r in hdbscan_lite_from_pairs(
            ids_df, pairs_df, 1, (0.2, 0.6)
        ).collect()
    }
    seeded_iters = list(rounds_run)
    # correctness: identical to the scalar reference at both levels
    assert got == _ref_hdbscan_lite(
        list(range(n)), pairs, 1, (0.2, 0.6)
    )
    # identity-init baseline for level 2: run eps2 as the FIRST level
    rounds_run.clear()
    hdbscan_lite_from_pairs(ids_df, pairs_df, 1, (0.6,)).collect()
    identity_iters = rounds_run[0]
    assert len(seeded_iters) == 2
    # label 0 walks the 31-hop chain one hop per round under identity
    # init; seeding pre-collapses each eps1 pair so it walks pair-blocks
    assert seeded_iters[1] < identity_iters, (seeded_iters, identity_iters)
    assert seeded_iters[1] <= identity_iters // 2 + 2, (
        seeded_iters,
        identity_iters,
    )
    spark.catalog.clearCache()


def test_hdbscan_converges_at_diameter_32(spark):
    """The propagation bound is 32 changing rounds plus one confirming
    round, the same as every other min-label site: a 33-node path (core
    graph of diameter 32) at one eps level is one cluster, not an
    error."""
    n = 33
    ids_df = spark.createDataFrame([(i,) for i in range(n)], "vec_id long")
    pairs_df = spark.createDataFrame(
        [(i, i + 1, 0.1) for i in range(n - 1)], "a long, b long, d double"
    )
    rows = hdbscan_lite_from_pairs(ids_df, pairs_df, 1, (0.2,)).collect()
    assert len(rows) == n
    assert {r.cluster_id for r in rows} == {0}
    spark.catalog.clearCache()
