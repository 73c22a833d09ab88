"""Vector similarity primitives over ``array<float>`` embedding columns.

All JVM-side higher-order expressions (zip_with + aggregate) — no UDFs.

Determinism contract: dot products and squared norms are accumulated as
exactly-rounded int64 "picos" (``round(x*y*1e12)`` per element), so the
sums are order-independent and bit-identical to the DuckDB oracle mirror;
cosine then uses a fixed sequence of IEEE double ops. 64-dim unit-ish
embeddings: |terms| ≤ 64·1e12 — far inside int64.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

SCALE = 1e12


def dot_scaled(a: Column, b: Column) -> Column:
    """Σ round(a_i·b_i·1e12) as int64 (order-independent)."""
    terms = F.zip_with(
        a, b, lambda x, y: F.round(x.cast("double") * y.cast("double") * F.lit(SCALE)).cast("bigint")
    )
    return F.aggregate(terms, F.lit(0).cast("bigint"), lambda acc, v: acc + v)


def norm_sq_scaled(a: Column) -> Column:
    return dot_scaled(a, a)


def cosine_from_scaled(dot_s: Column, norm_a_s: Column, norm_b_s: Column) -> Column:
    """cosine = dot_s / (√na_s · √nb_s) — the 1e12 scaling cancels."""
    return dot_s.cast("double") / (
        F.sqrt(norm_a_s.cast("double")) * F.sqrt(norm_b_s.cast("double"))
    )


def sql_dot_scaled(a: str, b: str, dim: int = 64) -> str:
    """DuckDB mirror of :func:`dot_scaled`."""
    return (
        f"list_sum([CAST(ROUND({a}[i]::DOUBLE * {b}[i]::DOUBLE * 1e12) AS BIGINT) "
        f"for i in range(1, {dim + 1})])"
    )


# ---------------------------------------------------------------------------
# Arrow-vectorized twin of dot_scaled (for high-pair-count verify stages)
# ---------------------------------------------------------------------------


def make_dot_scaled_pandas():
    """Pandas-UDF version of :func:`dot_scaled` — numerically IDENTICAL
    (float32→float64 widening is exact; products are the same IEEE
    doubles; rounding emulates round-half-away-from-zero via
    sign·floor(|x|+0.5), exact because |x|+0.5 < 2^52; int64 sum exact)
    but runs vectorized in numpy instead of Spark's interpreted
    higher-order-function evaluator — the right tool once the pair count
    is large (LSH verify stages)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def dot_scaled_pd(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.stack(a.to_numpy()).astype(np.float64)
        B = np.stack(b.to_numpy()).astype(np.float64)
        p = A * B * SCALE
        r = (np.sign(p) * np.floor(np.abs(p) + 0.5)).astype(np.int64)
        return pd.Series(r.sum(axis=1))

    return dot_scaled_pd


# ---------------------------------------------------------------------------
# Signed-random-projection (SRP) LSH
# ---------------------------------------------------------------------------


def _md5_pm1_matrix(prefix: str, rows: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 matrix derived from md5 — computed once in Python
    and embedded as literals in BOTH engines (so there is no cross-engine
    hash-function dependency at all). Shared derivation for SRP planes
    and IVF centroids; changing it changes both in lockstep."""
    return [
        [
            1 if int(hashlib.md5(f"{prefix}:{j}:{i}".encode()).hexdigest()[0], 16) % 2 else -1
            for i in range(dim)
        ]
        for j in range(rows)
    ]


def srp_planes(bits: int = 16, dim: int = 64) -> list[list[int]]:
    """Deterministic ±1 hyperplane matrix (see :func:`_md5_pm1_matrix`)."""
    return _md5_pm1_matrix("srp", bits, dim)


def make_srp_signature_pandas(planes: list[list[int]]):
    """Arrow-vectorized SRP signature as bigint: bit j =
    [Σ_i round(emb_i·1e9)·w_ji > 0], computed as the exact int64
    ``round(emb·1e9) @ Wᵀ`` (integer matmul — associative, exact), so
    the sign — hence the signature — is engine-independent and
    bit-identical to :func:`sql_srp_signature_from`."""
    from pyspark.sql.functions import pandas_udf

    W = np.array(planes, dtype=np.int64)  # (bits, dim)
    powers = (1 << np.arange(W.shape[0], dtype=np.int64))

    @pandas_udf("bigint")
    def srp_sig_pd(emb: pd.Series) -> pd.Series:
        E = np.stack(emb.to_numpy()).astype(np.float64) * 1e9
        S = (np.sign(E) * np.floor(np.abs(E) + 0.5)).astype(np.int64)  # (n, dim)
        proj = S @ W.T  # exact int64
        sig = ((proj > 0).astype(np.int64) * powers).sum(axis=1)
        return pd.Series(sig)

    return srp_sig_pd


def make_srp_sig_and_norm_pandas(planes: list[list[int]]):
    """One Arrow pass computing BOTH the SRP signature and the scaled
    squared norm (struct return). Fusing the kernels halves the
    Python-boundary crossings of the signature stage — at any scale the
    embedding batch is shipped to the Python worker ONCE instead of once
    per kernel. Bit-identical to running the two single-kernel UDFs."""
    from pyspark.sql.functions import pandas_udf

    W = np.array(planes, dtype=np.int64)
    powers = 1 << np.arange(W.shape[0], dtype=np.int64)

    @pandas_udf("struct<srp_sig: bigint, nsq: bigint>")
    def srp_and_norm_pd(emb: pd.Series) -> pd.DataFrame:
        E = np.stack(emb.to_numpy()).astype(np.float64)
        # signature from round(e*1e9) (matches sql_srp_signature_from)
        S9 = (np.sign(E * 1e9) * np.floor(np.abs(E * 1e9) + 0.5)).astype(np.int64)
        proj = S9 @ W.T
        sig = ((proj > 0).astype(np.int64) * powers).sum(axis=1)
        # norm from round(e*e*1e12) (matches dot_scaled(a, a))
        p = E * E * SCALE
        nsq = (np.sign(p) * np.floor(np.abs(p) + 0.5)).astype(np.int64).sum(axis=1)
        return pd.DataFrame({"srp_sig": sig, "nsq": nsq})

    return srp_and_norm_pd


def sql_scaled_e9(emb: str, dim: int = 64) -> str:
    """DuckDB: the per-row list ``[round(emb_i·1e9)]`` as DOUBLE[] —
    the shared input of the plane/centroid projections below. Integer
    values ≤ ~1e9 are exactly representable as doubles, so downstream
    ``list_dot_product`` sums stay bit-exact (every partial sum is an
    integer < 2^53). Compute it ONCE in a MATERIALIZED CTE: the naive
    per-plane comprehension form rebuilt a 64-literal list per element —
    a measured 160× slowdown (8.1 s → 0.05 s at 500×32×64)."""
    return (
        f"[CAST(ROUND({emb}[i]::DOUBLE * 1e9) AS BIGINT) "
        f"for i in range(1, {dim + 1})]::DOUBLE[]"
    )


def _sql_plane_dot(se: str, row: list[int]) -> str:
    lst = "[" + ", ".join(f"{float(v)}" for v in row) + "]"
    return f"CAST(list_dot_product({se}, {lst}) AS BIGINT)"


def sql_srp_signature_from(se: str, planes: list[list[int]]) -> str:
    """DuckDB mirror of :func:`make_srp_signature_pandas`, reading the precomputed
    scaled list ``se`` (see :func:`sql_scaled_e9`)."""
    parts = [
        f"CASE WHEN {_sql_plane_dot(se, row)} > 0 THEN {2**j} ELSE 0 END"
        for j, row in enumerate(planes)
    ]
    return "CAST(" + " + ".join(parts) + " AS BIGINT)"


# ---------------------------------------------------------------------------
# IVF coarse quantizer (deterministic random-direction centroids)
# ---------------------------------------------------------------------------


def ivf_centroids(cells: int = 16, dim: int = 64, prefix: str = "ivf") -> list[list[int]]:
    """Deterministic ±1 coarse-quantizer directions (see
    :func:`_md5_pm1_matrix`; distinct prefix keeps them independent of
    the SRP planes — pass a different ``prefix`` for an independent
    second-level quantizer). Cell of a vector = argmax over centroids of
    the exact int64-scaled projection; ties break to the lowest cell
    index."""
    return _md5_pm1_matrix(prefix, cells, dim)


def _exact_proj_from(E: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, cells) exact int64 projections round(E·1e9) @ Cᵀ from the
    already-stacked float64 embedding matrix."""
    E9 = E * 1e9
    S = (np.sign(E9) * np.floor(np.abs(E9) + 0.5)).astype(np.int64)
    return S @ C.T


def _exact_norm_from(E: np.ndarray) -> np.ndarray:
    """Exact int64 scaled squared norms (matches ``dot_scaled(a, a)``)
    from the already-stacked float64 embedding matrix."""
    p = E * E * SCALE
    return (np.sign(p) * np.floor(np.abs(p) + 0.5)).astype(np.int64).sum(axis=1)


def make_ivf_cell_pandas(centroids: list[list[int]]):
    """Arrow-vectorized cell assignment + norm in ONE pass (struct
    return — same fused-kernel rationale as make_srp_sig_and_norm_pandas;
    the batch is stacked to a float64 matrix ONCE and shared by both
    computations). Cell = argmax of the exact projections; np.argmax
    returns the FIRST max — the lowest-index tie-break the SQL mirror
    reproduces with ``ORDER BY p DESC, cell``."""
    from pyspark.sql.functions import pandas_udf

    C = np.array(centroids, dtype=np.int64)

    @pandas_udf("struct<cell: int, nsq: bigint>")
    def ivf_cell_pd(emb: pd.Series) -> pd.DataFrame:
        E = np.stack(emb.to_numpy()).astype(np.float64)
        cell = np.argmax(_exact_proj_from(E, C), axis=1).astype(np.int32)
        return pd.DataFrame({"cell": cell, "nsq": _exact_norm_from(E)})

    return ivf_cell_pd


def make_ivf_cell2_pandas(centroids: list[list[int]], sub_centroids: list[list[int]]):
    """Fused TWO-LEVEL coarse-quantizer assignment + norm in ONE Arrow
    pass: first-level cell (argmax over ``centroids``), second-level
    sub-cell (argmax over the independent ``sub_centroids`` — the
    oversized-cell re-split key of ``semantic_dedup_pairs``), and the
    exact scaled squared norm. The batch is stacked and int64-scaled
    ONCE and shared by all three computations. np.argmax returns the
    FIRST max — the lowest-index tie-break the SQL mirror reproduces
    with ``list_position(projs, list_max(projs))``."""
    from pyspark.sql.functions import pandas_udf

    C1 = np.array(centroids, dtype=np.int64)
    C2 = np.array(sub_centroids, dtype=np.int64)

    @pandas_udf("struct<cell: int, sub: int, nsq: bigint>")
    def ivf_cell2_pd(emb: pd.Series) -> pd.DataFrame:
        E = np.stack(emb.to_numpy()).astype(np.float64)
        E9 = E * 1e9
        S = (np.sign(E9) * np.floor(np.abs(E9) + 0.5)).astype(np.int64)
        return pd.DataFrame(
            {
                "cell": np.argmax(S @ C1.T, axis=1).astype(np.int32),
                "sub": np.argmax(S @ C2.T, axis=1).astype(np.int32),
                "nsq": _exact_norm_from(E),
            }
        )

    return ivf_cell2_pd


def make_ivf_probes_pandas(centroids: list[list[int]], n_probe: int):
    """Arrow-vectorized probe list + norm in ONE pass (one stack per
    batch): the ``n_probe`` best cells per query, ordered by projection
    desc then cell index asc (stable argsort on the negated
    projections)."""
    from pyspark.sql.functions import pandas_udf

    C = np.array(centroids, dtype=np.int64)

    @pandas_udf("struct<cells: array<int>, nsq: bigint>")
    def ivf_probes_pd(emb: pd.Series) -> pd.DataFrame:
        E = np.stack(emb.to_numpy()).astype(np.float64)
        order = np.argsort(-_exact_proj_from(E, C), axis=1, kind="stable")
        return pd.DataFrame(
            {
                "cells": list(order[:, :n_probe].astype(np.int32)),
                "nsq": _exact_norm_from(E),
            }
        )

    return ivf_probes_pd


def sql_ivf_projs_from(se: str, centroids: list[list[int]]) -> str:
    """DuckDB mirror: the list ``[proj_0, ..., proj_{cells-1}]`` of exact
    int64-scaled projections, reading the precomputed scaled list ``se``
    (see :func:`sql_scaled_e9` for why)."""
    return "[" + ", ".join(_sql_plane_dot(se, row) for row in centroids) + "]"


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN scoring
# ---------------------------------------------------------------------------


def pq_codebooks(m: int = 8, k: int = 16, subdim: int = 8) -> list[list[list[int]]]:
    """Deterministic ±1 PQ codebooks: ``m`` subspaces × ``k`` centroids ×
    ``subdim`` dims (see :func:`_md5_pm1_matrix`; per-subspace prefix keeps
    codebooks independent). All centroids share the same norm (±1 entries),
    so nearest-by-L2 == argmax dot — exact in scaled int64."""
    return [_md5_pm1_matrix(f"pq{mi}", k, subdim) for mi in range(m)]


def make_pq_encode_pandas(codebooks: list[list[list[int]]]):
    """Arrow-vectorized PQ encode in ONE pass per batch: per subspace the
    exact int64-scaled projections onto all centroids (``projs``, flattened
    m·k — doubling as the ADC lookup table when this vector is a query),
    the argmax code per subspace (``codes``, first-max tie-break matching
    the oracle's ``list_position``), and the exact scaled squared norm."""
    from pyspark.sql.functions import pandas_udf

    m, k = len(codebooks), len(codebooks[0])
    subdim = len(codebooks[0][0])
    CBs = [np.array(cb, dtype=np.int64) for cb in codebooks]

    @pandas_udf("struct<codes: array<int>, projs: array<bigint>, nsq: bigint>")
    def pq_encode_pd(emb: pd.Series) -> pd.DataFrame:
        E = np.stack(emb.to_numpy()).astype(np.float64)
        n = E.shape[0]
        projs = np.empty((n, m * k), dtype=np.int64)
        codes = np.empty((n, m), dtype=np.int32)
        for mi in range(m):
            sub = E[:, mi * subdim : (mi + 1) * subdim]
            P = _exact_proj_from(sub, CBs[mi])
            projs[:, mi * k : (mi + 1) * k] = P
            codes[:, mi] = np.argmax(P, axis=1)
        return pd.DataFrame(
            {"codes": list(codes), "projs": list(projs), "nsq": _exact_norm_from(E)}
        )

    return pq_encode_pd


def sql_pq_projs_from(se: str, codebooks: list[list[list[int]]]) -> str:
    """DuckDB mirror of the flattened ``projs`` (m·k int64 list), reading
    the precomputed scaled list ``se`` (:func:`sql_scaled_e9`). Subspace
    ``mi`` reads elements ``mi·subdim+1 .. (mi+1)·subdim`` (1-based)."""
    subdim = len(codebooks[0][0])
    parts = []
    for mi, cb in enumerate(codebooks):
        sub = f"{se}[{mi * subdim + 1}:{(mi + 1) * subdim}]"
        parts.extend(_sql_plane_dot(sub, row) for row in cb)
    return "[" + ", ".join(parts) + "]"


def make_ivfpq_encode_pandas(
    centroids: list[list[int]], codebooks: list[list[list[int]]]
):
    """Fused corpus-side IVFPQ encode — ONE stack per batch feeding the
    coarse cell assignment, the PQ codes, and the norm (the three things
    the inverted-list layout stores per vector)."""
    from pyspark.sql.functions import pandas_udf

    C = np.array(centroids, dtype=np.int64)
    m, k = len(codebooks), len(codebooks[0])
    subdim = len(codebooks[0][0])
    CBs = [np.array(cb, dtype=np.int64) for cb in codebooks]

    @pandas_udf("struct<cell: int, codes: array<int>, nsq: bigint>")
    def ivfpq_encode_pd(emb: pd.Series) -> pd.DataFrame:
        E = np.stack(emb.to_numpy()).astype(np.float64)
        n = E.shape[0]
        cell = np.argmax(_exact_proj_from(E, C), axis=1).astype(np.int32)
        codes = np.empty((n, m), dtype=np.int32)
        for mi in range(m):
            sub = E[:, mi * subdim : (mi + 1) * subdim]
            codes[:, mi] = np.argmax(_exact_proj_from(sub, CBs[mi]), axis=1)
        return pd.DataFrame(
            {"cell": cell, "codes": list(codes), "nsq": _exact_norm_from(E)}
        )

    return ivfpq_encode_pd


def make_ivfpq_probes_pandas(
    centroids: list[list[int]], codebooks: list[list[list[int]]], n_probe: int
):
    """Fused probe-side IVFPQ prep: the ``n_probe`` best cells, the PQ
    ADC lookup table (the query's own subspace projections), and the
    norm — one stack per batch."""
    from pyspark.sql.functions import pandas_udf

    C = np.array(centroids, dtype=np.int64)
    m, k = len(codebooks), len(codebooks[0])
    subdim = len(codebooks[0][0])
    CBs = [np.array(cb, dtype=np.int64) for cb in codebooks]

    @pandas_udf("struct<cells: array<int>, projs: array<bigint>, nsq: bigint>")
    def ivfpq_probes_pd(emb: pd.Series) -> pd.DataFrame:
        E = np.stack(emb.to_numpy()).astype(np.float64)
        n = E.shape[0]
        order = np.argsort(-_exact_proj_from(E, C), axis=1, kind="stable")
        projs = np.empty((n, m * k), dtype=np.int64)
        for mi in range(m):
            sub = E[:, mi * subdim : (mi + 1) * subdim]
            projs[:, mi * k : (mi + 1) * k] = _exact_proj_from(sub, CBs[mi])
        return pd.DataFrame(
            {
                "cells": list(order[:, :n_probe].astype(np.int32)),
                "projs": list(projs),
                "nsq": _exact_norm_from(E),
            }
        )

    return ivfpq_probes_pd
