"""The candidate-pair building blocks of ``functions/pairs.py`` against
brute-force Python twins on small hand-made frames: the band self-join
(one row per pair however many bands collide, never a self-pair, always
``a < b``, empty in -> empty out), the per-side rejoin, the Jaccard
verify ratio, and the rarest-shingle containment block."""

from __future__ import annotations

import itertools

from bigdata_2025_1_spark.functions.pairs import (
    band_pairs,
    jaccard,
    overlap_sizes,
    pair_sides,
    rarest_shingle_pairs,
)

# (doc_id, band, band_key), deliberately not in doc_id order. Docs 1 and 2
# agree on BOTH bands; doc 3 meets them in band 1 only; doc 4 carries
# band 0's key "x" in band 1, which must not collide across bands; doc 6
# shares no bucket.
BANDED = [
    (6, 0, "q"), (6, 1, "r"),
    (4, 0, "w"), (4, 1, "x"),
    (3, 0, "z"), (3, 1, "y"),
    (2, 0, "x"), (2, 1, "y"),
    (1, 0, "x"), (1, 1, "y"),
]
SETS = {
    1: ["a", "b", "c", "d"],
    2: ["a", "b", "c", "e"],
    3: ["c", "f"],
    4: ["g"],
    6: ["h", "i"],
}
BANDED_SCHEMA = "doc_id bigint, band int, band_key string"


def _brute_band_pairs(rows):
    return {
        (min(i, j), max(i, j))
        for (i, b, k), (j, c, m) in itertools.combinations(rows, 2)
        if b == c and k == m and i != j
    }


def test_band_pairs_match_brute_force(spark):
    got = band_pairs(spark.createDataFrame(BANDED, BANDED_SCHEMA), "doc_id")
    assert got.columns == ["doc_a", "doc_b"]
    rows = [(r.doc_a, r.doc_b) for r in got.collect()]
    assert len(rows) == len(set(rows))  # (1, 2) collides twice, comes out once
    assert all(a < b for a, b in rows)
    assert set(rows) == _brute_band_pairs(BANDED) == {(1, 2), (1, 3), (2, 3)}


def test_empty_input_gives_empty_pairs(spark):
    empty = spark.createDataFrame([], BANDED_SCHEMA)
    cand = band_pairs(empty, "doc_id")
    assert cand.collect() == []
    sets = spark.createDataFrame([], "doc_id bigint, shingles array<string>")
    assert pair_sides(cand, sets, ["shingles"]).collect() == []


def test_pair_sides_and_jaccard_match_brute_force(spark):
    sets = spark.createDataFrame(
        list(SETS.items()), "doc_id bigint, shingles array<string>"
    )
    cand = band_pairs(spark.createDataFrame(BANDED, BANDED_SCHEMA), "doc_id")
    inter, union = overlap_sizes("shingles_a", "shingles_b")
    got = {
        (r.doc_a, r.doc_b): (r.shingles_a, r.shingles_b, r.inter, r.union, r.j)
        for r in pair_sides(cand, sets, ["shingles"])
        .select(
            "*",
            inter.alias("inter"),
            union.alias("union"),
            jaccard("shingles_a", "shingles_b").alias("j"),
        )
        .collect()
    }
    want = {}
    for a, b in _brute_band_pairs(BANDED):
        x, y = set(SETS[a]), set(SETS[b])
        want[(a, b)] = (SETS[a], SETS[b], len(x & y), len(x | y), len(x & y) / len(x | y))
    assert got == want


def test_pair_sides_keys_by_the_pair_stem(spark):
    vecs = spark.createDataFrame([(1, 10), (2, 20)], "vec_id bigint, nsq bigint")
    pairs = spark.createDataFrame([(1, 2)], "vec_a bigint, vec_b bigint")
    (row,) = pair_sides(pairs, vecs, ["nsq"]).collect()
    assert (row.vec_a, row.vec_b, row.nsq_a, row.nsq_b) == (1, 2, 10, 20)


def _brute_rarest(sets):
    df = {}
    for s in sets.values():
        for t in s:
            df[t] = df.get(t, 0) + 1
    out = set()
    for a, sa in sets.items():
        rare = min(sa, key=lambda t: (df[t], t))
        for b, sb in sets.items():
            if b != a and rare in sb and (len(sa), a) < (len(sb), b):
                out.add((a, b, len(sa), len(sb)))
    return out


def test_rarest_shingle_pairs_match_brute_force(spark):
    sets = {
        1: ["p", "q"],
        2: ["p", "q", "r"],
        3: ["p", "q"],
        4: ["q", "s"],
        5: ["r", "s", "t"],
    }
    sized = spark.createDataFrame(
        [(d, s, len(s)) for d, s in sets.items()],
        "doc_id bigint, shingles array<string>, sz int",
    )
    got = {
        tuple(r)
        for r in rarest_shingle_pairs(sized, "shingles")
        .select("doc_small", "doc_big", "sz_a", "sz_b")
        .collect()
    }
    assert got == _brute_rarest(sets)
    assert (1, 3, 2, 2) in got  # equal sizes: the smaller doc_id is the probe
