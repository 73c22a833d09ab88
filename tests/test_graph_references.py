"""Independent scalar references for the non-property-tested graph
queries: the unrolled-CTE oracles deliberately mirror the distributed
iteration (they must walk identical states), so an algorithmic error
would be mirrored — these references derive the answers a DIFFERENT way
(brute-force enumeration, queue BFS, union-find). Run at sf0.01 where
the strong trade graph is non-trivial."""

from __future__ import annotations

from itertools import combinations

import pytest

SF01 = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def trade_edges(spark):
    """Directed (cust_nation, supp_nation) -> lineitem count, built with
    plain Python dict joins (independent of both engines' join code)."""
    cust = {
        r.c_custkey: r.c_nationkey
        for r in spark.read.parquet(f"{SF01}/customer.parquet")
        .select("c_custkey", "c_nationkey")
        .collect()
    }
    supp = {
        r.s_suppkey: r.s_nationkey
        for r in spark.read.parquet(f"{SF01}/supplier.parquet")
        .select("s_suppkey", "s_nationkey")
        .collect()
    }
    ordc = {
        r.o_orderkey: r.o_custkey
        for r in spark.read.parquet(f"{SF01}/orders.parquet")
        .select("o_orderkey", "o_custkey")
        .collect()
    }
    from collections import Counter

    w: Counter = Counter()
    for r in (
        spark.read.parquet(f"{SF01}/lineitem.parquet")
        .select("l_orderkey", "l_suppkey")
        .collect()
    ):
        w[(cust[ordc[r.l_orderkey]], supp[r.l_suppkey])] += 1
    return w


def test_triangle_count_matches_brute_force(spark, trade_edges):
    from bigdata_2025_1_spark.registry import all_queries

    from collections import Counter

    und: Counter = Counter()
    for (u, v), c in trade_edges.items():
        if u != v:
            und[(min(u, v), max(u, v))] += c
    tw = sum(und.values())
    strong = {e for e, c in und.items() if 625 * c > tw}
    nodes = sorted({n for e in strong for n in e})
    tri = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if (a, b) in strong and (b, c) in strong and (a, c) in strong
    )
    out = all_queries()["triangle_count_trade"](spark, SF01).collect()[0]
    assert out.n_edges == len(strong)
    assert out.n_triangles == tri
    spark.catalog.clearCache()


def test_bfs_matches_queue_bfs(spark, trade_edges):
    from bigdata_2025_1_spark.operators.graph_ops import BFS_SOURCE
    from bigdata_2025_1_spark.registry import all_queries

    adj: dict[int, set[int]] = {}
    for (u, v), _c in trade_edges.items():
        if u != v:
            adj.setdefault(u, set()).add(v)
    dist = {BFS_SOURCE: 0}
    frontier = [BFS_SOURCE]
    for d in (1, 2, 3):  # the query runs exactly 3 relaxation rounds
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = d
                    nxt.append(v)
        frontier = nxt
    nation_name = {
        r.n_nationkey: r.n_name
        for r in spark.read.parquet(f"{SF01}/nation.parquet").collect()
    }
    out = {
        r.nation: (r.hops, r.reachable)
        for r in all_queries()["bfs_trade_reachability"](spark, SF01).collect()
    }
    assert set(out) == set(nation_name.values())
    for key, name in nation_name.items():
        hops, reachable = out[name]
        assert hops == dist.get(key), (name, hops, dist.get(key))
        assert reachable == (key in dist)
    # the reference must be non-trivial at this scale
    assert 1 < len(dist) <= len(nation_name)
    spark.catalog.clearCache()


def test_connected_components_match_union_find(spark):
    from bigdata_2025_1_spark.registry import all_queries

    qs = all_queries()
    pairs = [
        (r.doc_a, r.doc_b)
        for r in qs["dedup_minhash_lsh"](spark, SF01).select("doc_a", "doc_b").collect()
    ]
    spark.catalog.clearCache()
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # normalize: every member labeled by its component MINIMUM
    members: dict[int, list[int]] = {}
    for x in parent:
        members.setdefault(find(x), []).append(x)
    ref = {x: min(ms) for root, ms in members.items() for x in ms}
    got = {
        r.doc_id: r.cluster_id
        for r in qs["dedup_connected_components"](spark, SF01).collect()
    }
    assert got == ref
    assert len(ref) > 0  # non-trivial at sf0.01
    spark.catalog.clearCache()


def test_label_propagation_matches_scalar(spark, trade_edges):
    """Synchronous weighted LPA reimplemented from the docstring SPEC
    (3 iterations, relabel to greatest incident weight, ties -> smallest
    label, isolated nodes keep theirs) — independent of both the
    DataFrame loop and the unrolled CTE."""
    from bigdata_2025_1_spark.operators.graph_ops import LPA_ITERS
    from bigdata_2025_1_spark.registry import all_queries

    from collections import Counter

    und: Counter = Counter()
    for (u, v), c in trade_edges.items():
        if u != v:
            und[(min(u, v), max(u, v))] += c
    nbr: dict[int, dict[int, int]] = {}
    for (a, b), w in und.items():
        nbr.setdefault(a, {})[b] = w
        nbr.setdefault(b, {})[a] = w
    nations = {
        r.n_nationkey: r.n_name
        for r in spark.read.parquet(f"{SF01}/nation.parquet").collect()
    }
    label = {k: k for k in nations}
    for _ in range(LPA_ITERS):
        nxt = {}
        for k in nations:
            votes: dict[int, int] = {}
            for j, w in nbr.get(k, {}).items():
                votes[label[j]] = votes.get(label[j], 0) + w
            if votes:
                best = max(votes.items(), key=lambda lv: (lv[1], -lv[0]))
                nxt[k] = best[0]
            else:
                nxt[k] = label[k]
        label = nxt
    sizes: dict[int, int] = {}
    for lv in label.values():
        sizes[lv] = sizes.get(lv, 0) + 1
    out = {
        r.nation: (r.community, r.community_size)
        for r in all_queries()["label_propagation_communities"](spark, SF01).collect()
    }
    assert out == {
        nations[k]: (label[k], sizes[label[k]]) for k in nations
    }
    spark.catalog.clearCache()


def test_textrank_matches_scalar(spark, sf_dir):
    """Plain-Python integer TextRank from the spec (tokenize, adjacent
    co-occurrence, ppm normalization, 15/85 integer damping) vs the
    distributed loop-of-joins — catches wiring errors (edge direction,
    missed coalesce, filter drift) that the mirrored unrolled CTE
    shares with the query."""
    from bigdata_2025_1_spark.operators.graph_ops import (
        PR_ONE,
        PR_PPM,
        TR_ITERS,
        TR_MIN_TOKEN_LEN,
        TR_TOP_K,
        textrank_keywords,
    )

    from collections import Counter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("text").collect()
    seqs = [
        [w for w in r.text.lower().strip().split() if len(w) >= TR_MIN_TOKEN_LEN]
        for r in docs
    ]
    sym: Counter = Counter()
    nodes = set()
    for ts in seqs:
        nodes.update(ts)
        for a, b in zip(ts, ts[1:]):
            if a != b:
                sym[(a, b)] += 1
                sym[(b, a)] += 1
    totals: Counter = Counter()
    for (s, _d), w in sym.items():
        totals[s] += w
    edges = {e: w * PR_PPM // totals[e[0]] for e, w in sym.items()}
    n = len(nodes)
    r0 = PR_ONE // n
    base = (15 * r0) // 100
    rank = {w: r0 for w in nodes}
    for _ in range(TR_ITERS):
        contrib: Counter = Counter()
        for (s, d), wp in edges.items():
            contrib[d] += rank[s] * wp // PR_PPM
        rank = {w: base + (85 * contrib.get(w, 0)) // 100 for w in nodes}
    top = sorted(rank.items(), key=lambda kv: (-kv[1], kv[0]))[:TR_TOP_K]
    out = textrank_keywords(spark, sf_dir).collect()
    assert [(r.token, r.rank_scaled, r.pos) for r in out] == [
        (w, rk, i + 1) for i, (w, rk) in enumerate(top)
    ]
    spark.catalog.clearCache()


def test_hyperball_tracks_exact_harmonic(spark):
    """HyperBall's HLL-sketch harmonic estimates vs the EXACT all-pairs
    harmonic centrality (a separately registered query with its own
    oracle): same quantity, independent machinery. The m=64-register
    HLL standard error is ~1.04/sqrt(64) ≈ 13%; pin a 25% band plus
    zero-agreement (measured at sf0.01: uniform 11.9% low bias)."""
    from bigdata_2025_1_spark.registry import all_queries

    qs = all_queries()
    hb = {
        r.nation: r.harmonic_est
        for r in qs["hyperball_harmonic_trade"](spark, SF01).collect()
    }
    spark.catalog.clearCache()
    ex = {
        r.nation: r.harmonic
        for r in qs["harmonic_centrality_trade"](spark, SF01).collect()
    }
    spark.catalog.clearCache()
    assert set(hb) == set(ex)
    nonzero = 0
    for nation, exact in ex.items():
        est = hb[nation]
        if exact == 0:
            assert est < 1.0, (nation, est)
        else:
            nonzero += 1
            assert abs(est - exact) / exact < 0.25, (nation, est, exact)
    assert nonzero > 0  # the strong graph is non-trivial at sf0.01


def test_local_clustering_matches_brute_force(spark, trade_edges):
    """lcc(v) from neighbor-set enumeration over the strong graph —
    independent of both engines' ordered-triple join algebra."""
    from bigdata_2025_1_spark.registry import all_queries

    from collections import Counter

    und: Counter = Counter()
    for (u, v), c in trade_edges.items():
        if u != v:
            und[(min(u, v), max(u, v))] += c
    tw = sum(und.values())
    strong = {e for e, c in und.items() if 625 * c > tw}
    adj: dict[int, set[int]] = {}
    for a, b in strong:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for v, nbrs in adj.items():
        d = len(nbrs)
        t = sum(
            1
            for x, y in combinations(sorted(nbrs), 2)
            if (min(x, y), max(x, y)) in strong
        )
        lcc = round(2.0 * t / (d * (d - 1)), 6) if d >= 2 else None
        want[v] = (d, t, lcc)
    got = {
        r.nation_key: (r.degree, r.n_triangles, r.clustering_coeff)
        for r in all_queries()["local_clustering_trade"](spark, SF01).collect()
    }
    assert got == want and len(got) > 0
    spark.catalog.clearCache()


def test_trade_edges_matches_dict_join(spark, trade_edges):
    """The one Spark edge list every trade-graph query reads equals the
    plain-Python dict join: same pairs (self-loops kept), same counts."""
    from bigdata_2025_1_spark.operators import graph_ops as G

    got = {(r.src, r.dst): r.w for r in G.trade_edges(spark, SF01).collect()}
    assert got == dict(trade_edges)
    assert any(u == v for u, v in got)  # self-loops are kept


def test_hop_distances_on_a_chain(spark):
    """Three min-plus rounds over the chain 0→1→2→3→4 reach 3 hops and
    no further, from one source and from every source at once."""
    from bigdata_2025_1_spark.operators.graph_ops import HOP_INF, hop_distances

    edges = spark.createDataFrame(
        [(k, k + 1) for k in range(4)], "src bigint, dst bigint"
    )
    nodes = spark.createDataFrame([(k,) for k in range(5)], "nation_key bigint")

    def expect(s: int, v: int) -> int:
        return v - s if 0 <= v - s <= 3 else HOP_INF

    one = {
        r.nation_key: r.dist
        for r in hop_distances(edges, nodes, rounds=3, source=0).collect()
    }
    assert one == {0: 0, 1: 1, 2: 2, 3: 3, 4: HOP_INF}
    every = {
        (r.src, r.nation_key): r.dist
        for r in hop_distances(edges, nodes, rounds=3).collect()
    }
    assert every == {(s, v): expect(s, v) for s in range(5) for v in range(5)}
