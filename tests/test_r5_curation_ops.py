"""Plan pins + semantic invariants for the round-5 curation additions:
SemDeDup, CDC chunking, bigram LM gate, feature hashing, weighted
sampling, margin mining, column MI."""

from __future__ import annotations

import hashlib
import math

from bigdata_2025_1_spark.plans.explain import formatted_plan
from bigdata_2025_1_spark.registry import all_queries

QUERIES = all_queries()


def test_semantic_dedup_cell_join_no_cartesian(spark, sf_dir, query_plan):
    df = QUERIES["semantic_dedup_pairs"](spark, sf_dir)
    plan = query_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    rows = df.collect()
    # precision is exact by construction: every emitted pair clears the
    # threshold and is ordered keep < drop
    for r in rows:
        assert r.cosine >= 0.45 - 1e-12
        assert r.keep_id < r.drop_id


def test_semantic_dedup_complete_within_cells(spark, sf_dir):
    """Within a cell the pair search is EXACT (the only loss is cross-
    cell) — recompute every within-cell pair in numpy and compare."""
    import numpy as np

    from bigdata_2025_1_spark.functions.vectors import ivf_centroids
    from bigdata_2025_1_spark.io import load
    from bigdata_2025_1_spark.operators.similarity import N_CELLS, NEAR_DUP_COS

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in emb])
    E = np.array([r.embedding for r in emb], dtype=np.float64)
    C = np.array(ivf_centroids(cells=N_CELLS, dim=64), dtype=np.int64)
    S = (np.sign(E * 1e9) * np.floor(np.abs(E * 1e9) + 0.5)).astype(np.int64)
    cell = np.argmax(S @ C.T, axis=1)
    p = E[:, None, :] * E[None, :, :] * 1e12
    dots = (np.sign(p) * np.floor(np.abs(p) + 0.5)).astype(np.int64).sum(axis=2)
    nsq = np.diag(dots).astype(np.float64)
    cos = dots / np.sqrt(nsq[:, None] * nsq[None, :])
    expected = set()
    for i in range(len(ids)):
        for j in range(len(ids)):
            if ids[i] < ids[j] and cell[i] == cell[j] and cos[i, j] >= NEAR_DUP_COS:
                expected.add((int(ids[i]), int(ids[j])))
    got = {
        (r.keep_id, r.drop_id)
        for r in QUERIES["semantic_dedup_pairs"](spark, sf_dir).collect()
    }
    assert got == expected


def test_cdc_windows_are_per_doc(spark, sf_dir):
    """Every window in the CDC plan is partitioned (by doc_id) — the
    chunk assembly never funnels the corpus through one task."""
    df = QUERIES["cdc_chunk_dedup"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if ") Window" in line or "Window [" in line:
            continue
        if "windowspecdefinition" in line.lower():
            assert "doc_id" in line, line
    rows = df.collect()
    for r in rows:
        assert r.n_docs >= 2
        assert r.n_occ >= r.n_docs
        assert r.chunk_len > 0


def test_cdc_boundaries_resynchronize_after_insertion():
    """The CDC property fixed-offset shingles lack: prepending text to a
    document shifts every byte, yet the boundary rule (window-hash ≡ 0)
    re-synchronizes, so all chunks after the first boundary are
    IDENTICAL. Pure-python mirror of the query's chunking rule."""

    def chunks(text: str) -> list[str]:
        w, mask = 8, 64
        bounds = {1}
        for pos in range(1, len(text) - w + 2):
            h = int(hashlib.md5(text[pos - 1 : pos - 1 + w].encode()).hexdigest()[:6], 16)
            if h % mask == 0:
                bounds.add(pos)
        bs = sorted(bounds) + [len(text) + 1]
        return [text[bs[i] - 1 : bs[i + 1] - 1] for i in range(len(bs) - 1)]

    base = " ".join(f"token{i % 97}word{i % 31}" for i in range(400))
    shifted = "PREFIX INSERTED AT FRONT " + base
    c1, c2 = chunks(base), chunks(shifted)
    shared = set(c1) & set(c2)
    # everything from the first re-synchronized boundary onward is shared:
    # at most the junction chunk (and the head chunk) differ
    assert len(set(c1) - shared) <= 2, (len(c1), len(shared))
    assert len(shared) > 5


def test_bigram_gate_shape(spark, sf_dir):
    rows = QUERIES["bigram_backoff_logprob"](spark, sf_dir).collect()
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    nlls = [r.nll2 for r in rows]
    assert nlls == sorted(nlls, reverse=True)
    for r in rows:
        assert r.nll2 > 0.0
        assert r.n_tokens >= 1


def test_feature_hashing_conserves_token_mass(spark, sf_dir):
    from pyspark.sql import functions as F

    from bigdata_2025_1_spark.functions import text as T
    from bigdata_2025_1_spark.io import load

    rows = QUERIES["feature_hashing_buckets"](spark, sf_dir).collect()
    total = sum(r.n_tokens for r in rows)
    stream = (
        load(spark, sf_dir, "documents")
        .select(F.explode(T.ws_tokens(F.lower(F.col("text")))).alias("w"))
        .count()
    )
    assert total == stream
    for r in rows:
        assert 0 <= r.bucket < 128
        assert 1 <= r.top_count <= r.n_tokens
        assert r.n_types >= 1


def test_weighted_sample_keys_recompute_exactly(spark, sf_dir):
    """The race keys must equal an independent pure-python derivation:
    md5-uniform -> -ln(u)/w -> round e12. Pins the cross-engine hash
    arithmetic AND the rounding contract in one go."""
    rows = QUERIES["weighted_sample_wor"](spark, sf_dir).collect()
    assert [r.sample_rank for r in rows] == list(range(1, len(rows) + 1))
    keys = [r.race_key for r in rows]
    assert keys == sorted(keys)
    for r in rows:
        h = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:12], 16)
        u = (h % 1000000000 + 1) / 1000000001
        expect = round(-math.log(u) / r.n_chars * 1e12)
        assert abs(expect / 1e12 - r.race_key) < 1e-12, r


def test_column_mi_information_inequalities(spark, sf_dir):
    rows = QUERIES["column_mutual_information"](spark, sf_dir).collect()
    assert len(rows) == 3
    for r in rows:
        assert r.h_x > 0 and r.h_y > 0
        assert r.mi_nats >= -1e-6  # MI >= 0 up to 1e-6 ln rounding
        assert r.mi_nats <= min(r.h_x, r.h_y) + 1e-6
        assert -1e-6 <= r.nmi <= 1.0 + 1e-6


def test_margin_mining_hub_penalty(spark, sf_dir):
    rows = QUERIES["margin_candidate_mining"](spark, sf_dir).collect()
    assert [r.mrank for r in rows] == list(range(1, len(rows) + 1))
    margins = [r.margin for r in rows]
    assert margins == sorted(margins, reverse=True)
    for r in rows:
        assert r.src_id < 50 <= r.tgt_id
        assert r.margin > 0
    # margin ranking must differ from raw-cosine ranking somewhere —
    # otherwise the denominator did nothing on this fixture
    by_cos = sorted(rows, key=lambda r: (-r.cosine, r.src_id))
    assert [r.src_id for r in by_cos] != [r.src_id for r in rows]
