"""Similarity search over the embeddings fixture (charter extension):
brute-force cosine top-k (the correctness baseline) and SRP-LSH bucketed
near-neighbor search (the scale path).

Scale design:
- brute-force top-k broadcasts the (small) query set against the corpus —
  a map-side nested loop, no shuffle of the corpus; per-group top-k via
  row_number, not a global sort;
- SRP-LSH reduces the all-pairs problem to equi-joins on one-byte band
  keys (same pigeonhole shape as simhash hamming search); exact cosine is
  computed only for bucket-collision candidates;
- squared norms are precomputed once per vector and carried as int64.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_2025_1_spark.functions import vectors as V
from bigdata_2025_1_spark.functions.iterate import min_label_propagate
from bigdata_2025_1_spark.functions.overlap import release_gate
from bigdata_2025_1_spark.functions.pairs import band_pairs, pair_sides
from bigdata_2025_1_spark.io import load, spread
from bigdata_2025_1_spark.functions.ranks import rank_after_limit
from bigdata_2025_1_spark.registry import query

N_QUERY_VECS = 50  # brute-force query subset: realistic "probe set" shape
TOP_K = 5
NEAR_DUP_COS = 0.45  # fixture max inter-vector cosine ≈ 0.51
_PLANES = V.srp_planes(bits=16, dim=64)
_DIM = 64
N_CELLS = 32  # IVF coarse-quantizer cells
N_PROBE = 12  # cells searched per query (nprobe)
_CENTROIDS = V.ivf_centroids(cells=N_CELLS, dim=_DIM)

_SQL_DOT_AB = V.sql_dot_scaled("qa.embedding", "qb.embedding", _DIM)
_SQL_NORM = V.sql_dot_scaled("embedding", "embedding", _DIM)


@query(
    "ann_topk_cosine",
    oracle=f"""
    WITH norms AS (
      SELECT vec_id, embedding, {_SQL_NORM} AS nsq FROM embeddings
    ), pairs AS (
      SELECT qa.vec_id AS query_id, qb.vec_id AS neighbor_id,
             {_SQL_DOT_AB}::DOUBLE / (sqrt(qa.nsq::DOUBLE) * sqrt(qb.nsq::DOUBLE)) AS cosine
      FROM norms qa JOIN norms qb ON qa.vec_id < {N_QUERY_VECS} AND qa.vec_id <> qb.vec_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM pairs
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for a probe set (vec_id < 50): broadcast
    the probes against the corpus, rank per query. The exact baseline any
    ANN variant is measured against."""
    emb = load(spark, sf_dir, "embeddings")
    norms = spread(emb).select(
        "vec_id", "embedding", V.norm_sq_scaled(F.col("embedding")).alias("nsq")
    )
    queries_df = norms.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nsq").alias("q_nsq"),
    )
    corpus = norms.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nsq").alias("c_nsq"),
    )
    pairs = corpus.join(F.broadcast(queries_df), F.col("query_id") != F.col("neighbor_id"))
    cosine = V.cosine_from_scaled(
        V.dot_scaled(F.col("q_emb"), F.col("c_emb")), F.col("q_nsq"), F.col("c_nsq")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        pairs.select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


@query(
    "embedding_srp_signatures",
    oracle=f"""
    WITH se AS MATERIALIZED (
      SELECT vec_id, label, {V.sql_scaled_e9('embedding', _DIM)} AS se
      FROM embeddings
    )
    SELECT vec_id, label, {V.sql_srp_signature_from('se', _PLANES)} AS srp_sig
    FROM se
    ORDER BY vec_id
    """,
)
def embedding_srp_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit signed-random-projection signature per vector (hyperplanes
    are md5-derived ±1 literals shared with the oracle — no cross-engine
    hash dependency). Shuffle-free projection; not spread() — see
    ann_ivf_topk's note on trivial-per-row numpy kernels."""
    emb = load(spark, sf_dir, "embeddings")
    srp_pd = V.make_srp_signature_pandas(_PLANES)
    return emb.select(
        "vec_id",
        "label",
        srp_pd(F.col("embedding")).alias("srp_sig"),
    ).orderBy("vec_id")


@query(
    "ann_srp_lsh_pairs",
    oracle=f"""
    WITH se AS MATERIALIZED (
      SELECT vec_id, embedding, {_SQL_NORM} AS nsq,
             {V.sql_scaled_e9('embedding', _DIM)} AS se
      FROM embeddings
    ), sig AS MATERIALIZED (
      SELECT vec_id, embedding, nsq,
             {V.sql_srp_signature_from('se', _PLANES)} AS srp_sig
      FROM se
    ), banded AS (
      SELECT vec_id, embedding, nsq, 0 AS band, srp_sig // 256 AS band_key FROM sig
      UNION ALL
      SELECT vec_id, embedding, nsq, 1 AS band, srp_sig % 256 AS band_key FROM sig
    ), cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.vec_id < b.vec_id
    ), verified AS (
      SELECT c.vec_a, c.vec_b,
             {V.sql_dot_scaled('qa.embedding', 'qb.embedding', _DIM)}::DOUBLE
               / (sqrt(qa.nsq::DOUBLE) * sqrt(qb.nsq::DOUBLE)) AS cosine
      FROM cand c
      JOIN sig qa ON qa.vec_id = c.vec_a
      JOIN sig qb ON qb.vec_id = c.vec_b
    )
    SELECT vec_a, vec_b, cosine FROM verified
    WHERE cosine >= {NEAR_DUP_COS}
    ORDER BY vec_a, vec_b
    """,
)
def ann_srp_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed near-neighbor pairs: SRP signature → byte bands →
    bucket equi-join → exact cosine verify ≥ 0.45. The scale path: the
    join key is one byte; embeddings rejoin only for candidates."""
    emb = load(spark, sf_dir, "embeddings")
    # checkpoint: signatures/norms feed the band join and the verify join on
    # both sides — compute the 16 projections once per vector. The fused
    # sig+norm kernel ships each embedding batch to Python ONCE; no
    # spread() (trivial-per-row numpy kernel — see ann_ivf_topk's note,
    # measured consistently faster without the 32-way fan-out locally).
    fused = V.make_srp_sig_and_norm_pandas(_PLANES)
    sig = (
        emb
        .select("vec_id", "embedding", fused(F.col("embedding")).alias("sn"))
        .select(
            "vec_id",
            "embedding",
            F.col("sn.srp_sig").alias("srp_sig"),
            F.col("sn.nsq").alias("nsq"),
        )
        .localCheckpoint()
    )
    keyed = sig.select("vec_id", "srp_sig")
    hi = keyed.select("vec_id", F.lit(0).alias("band"), F.expr("srp_sig div 256").alias("band_key"))
    lo = keyed.select("vec_id", F.lit(1).alias("band"), (F.col("srp_sig") % 256).alias("band_key"))
    cand = band_pairs(hi.unionByName(lo), "vec_id")
    # verify stage has the large pair count → Arrow-vectorized dot kernel
    # (bit-identical to the expression version; see make_dot_scaled_pandas)
    dot_pd = V.make_dot_scaled_pandas()
    cosine = V.cosine_from_scaled(
        dot_pd(F.col("embedding_a"), F.col("embedding_b")),
        F.col("nsq_a"),
        F.col("nsq_b"),
    )
    return (
        pair_sides(cand, sig, ["embedding", "nsq"])
        .select("vec_a", "vec_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= NEAR_DUP_COS)
        .orderBy("vec_a", "vec_b")
    )


@query(
    "ann_ivf_topk",
    oracle=f"""
    WITH se AS MATERIALIZED (
      SELECT vec_id, embedding, {_SQL_NORM} AS nsq,
             {V.sql_scaled_e9('embedding', _DIM)} AS se
      FROM embeddings
    ), proj AS MATERIALIZED (
      SELECT vec_id, embedding, nsq,
             {V.sql_ivf_projs_from('se', _CENTROIDS)} AS projs
      FROM se
    ), cells AS (
      SELECT vec_id, embedding, nsq, CAST(r.cell AS INT) AS cell,
             projs[r.cell + 1] AS p
      FROM proj CROSS JOIN range({N_CELLS}) r(cell)
    ), ranked_cells AS MATERIALIZED (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY p DESC, cell) AS crk
      FROM cells
    ), corpus AS (
      SELECT vec_id, embedding, nsq, cell FROM ranked_cells WHERE crk = 1
    ), probes AS (
      SELECT vec_id AS query_id, embedding AS q_emb, nsq AS q_nsq, cell
      FROM ranked_cells WHERE vec_id < {N_QUERY_VECS} AND crk <= {N_PROBE}
    ), scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             {V.sql_dot_scaled('p.q_emb', 'c.embedding', _DIM)}::DOUBLE
               / (sqrt(p.q_nsq::DOUBLE) * sqrt(c.nsq::DOUBLE)) AS cosine
      FROM probes p JOIN corpus c USING (cell)
      WHERE c.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN: deterministic coarse quantizer (32 md5-derived ±1
    directions; cell = argmax exact int64 projection) partitions the
    corpus into inverted lists; each probe searches only its ``nprobe=12``
    best cells, with exact cosine computed for candidates alone.

    The scale path vs ``ann_topk_cosine``'s brute force: at 100 TB the
    corpus is written partitioned by ``cell`` (partition pruning turns a
    full scan into ~nprobe/cells of the data — measured 38% scanned /
    0.68 recall@5 on the unstructured fixture; clustered real corpora do
    far better), the probe×cell table is tiny and broadcast, and the
    exact-dot verify touches only candidates. Recall is measurable
    against the brute-force twin on the same probe set (pinned in
    tests/test_plans.py). Assignment/probing are Arrow-vectorized integer
    matmuls — bit-identical to the SQL mirror.

    Deliberately NOT spread(): the kernels are numpy matmuls whose
    per-row cost is trivial, so fanning a small local fixture across 32
    partitions just multiplies Python-worker round trips (measured ~1.8x
    slower); at real scale the input arrives pre-split and parallelism
    comes from the scan."""
    emb = load(spark, sf_dir, "embeddings")
    cell_pd = V.make_ivf_cell_pandas(_CENTROIDS)
    probes_pd = V.make_ivf_probes_pandas(_CENTROIDS, N_PROBE)
    dot_pd = V.make_dot_scaled_pandas()
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        cell_pd(F.col("embedding")).alias("cn"),
    ).select("neighbor_id", "c_emb", F.col("cn.cell").alias("cell"), F.col("cn.nsq").alias("c_nsq"))
    probes = (
        emb.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            probes_pd(F.col("embedding")).alias("pn"),
        )
        .select(
            "query_id",
            "q_emb",
            F.col("pn.nsq").alias("q_nsq"),
            F.explode(F.col("pn.cells")).alias("cell"),
        )
    )
    cosine = V.cosine_from_scaled(
        dot_pd(F.col("q_emb"), F.col("c_emb")), F.col("q_nsq"), F.col("c_nsq")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


@query(
    "embedding_centroid_distance",
    oracle=f"""
    WITH ex AS (
      SELECT label, u.i AS dim,
             CAST(ROUND(embedding[u.i]::DOUBLE * 1e6) AS BIGINT) AS iv
      FROM embeddings, unnest(range(1, {_DIM + 1})) AS u(i)
    ), cent AS (
      SELECT label, dim, SUM(iv)::DOUBLE / (1e6 * COUNT(*)) AS c
      FROM ex GROUP BY label, dim
    ), carr AS (
      SELECT label, list(c ORDER BY dim) AS cent FROM cent GROUP BY label
    )
    SELECT e.vec_id, e.label,
           ROUND(list_reduce(list_prepend(0.0::DOUBLE,
             [(e.embedding[i]::DOUBLE - carr.cent[i])
              * (e.embedding[i]::DOUBLE - carr.cent[i])
              for i in range(1, {_DIM + 1})]),
             (a, b) -> a + b), 9) AS dist_sq
    FROM embeddings e JOIN carr USING (label)
    ORDER BY e.vec_id
    """,
)
def embedding_centroid_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means E-step shape: per-label centroid, then each vector's
    squared distance to its label's centroid (the building block of
    cluster assignment, outlier mining, and codebook training).

    Determinism: centroids come from EXACT int64 per-dimension sums
    (float sums are partition-order-dependent — the classic
    nondeterminism trap in distributed k-means); the distance fold then
    runs left-to-right over identical doubles in both engines.

    Scale shape: the explode shuffles (label, dim) pairs that collapse
    to |labels|x|dims| rows; the tiny centroid table broadcasts back and
    the distance pass is map-side — one scan, one micro-shuffle,
    identical at 100 TB."""
    emb = load(spark, sf_dir, "embeddings")
    ex = spread(emb).select(
        "label", F.posexplode(F.col("embedding"))
    ).select(
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.round(F.col("col").cast("double") * 1e6).cast("bigint").alias("iv"),
    )
    cent = ex.groupBy("label", "dim").agg(
        (F.sum("iv").cast("double") / (1e6 * F.count("*"))).alias("c")
    )
    carr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
        ).alias("cent")
    )
    diffsq = F.zip_with(
        F.col("embedding").cast("array<double>"),
        F.col("cent"),
        lambda a, b: (a - b) * (a - b),
    )
    dist = F.aggregate(diffsq, F.lit(0.0), lambda acc, x: acc + x)
    return (
        emb.join(F.broadcast(carr), "label")
        .select("vec_id", "label", F.round(dist, 9).alias("dist_sq"))
        .orderBy("vec_id")
    )


PQ_M, PQ_K, PQ_SUBDIM = 8, 16, 8  # 64-dim → 8 subspaces × 16 centroids
PQ_SHORTLIST = 64  # ADC shortlist size before exact re-rank (~13% of the corpus at fixture scale)
_PQ_CB = V.pq_codebooks(m=PQ_M, k=PQ_K, subdim=PQ_SUBDIM)
_PQ_CODES_SQL = ", ".join(
    f"list_position(projs[{mi * PQ_K + 1}:{(mi + 1) * PQ_K}], "
    f"list_max(projs[{mi * PQ_K + 1}:{(mi + 1) * PQ_K}])) - 1"
    for mi in range(PQ_M)
)
_PQ_ADC_SQL = " + ".join(
    f"q.projs[{mi * PQ_K} + x.codes[{mi + 1}] + 1]" for mi in range(PQ_M)
)


@query(
    "ann_pq_adc_topk",
    oracle=f"""
    WITH se AS MATERIALIZED (
      SELECT vec_id, embedding, {_SQL_NORM} AS nsq,
             {V.sql_scaled_e9('embedding', _DIM)} AS se
      FROM embeddings
    ), coded AS MATERIALIZED (
      SELECT vec_id, embedding, nsq, projs, [{_PQ_CODES_SQL}] AS codes
      FROM (SELECT vec_id, embedding, nsq,
                   {V.sql_pq_projs_from('se', _PQ_CB)} AS projs
            FROM se)
    ), scored AS (
      SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
             ({_PQ_ADC_SQL})::DOUBLE / sqrt(x.nsq::DOUBLE) AS adc
      FROM coded q JOIN coded x
        ON q.vec_id < {N_QUERY_VECS} AND q.vec_id <> x.vec_id
    ), short AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY adc DESC, neighbor_id) AS srk
            FROM scored)
      WHERE srk <= {PQ_SHORTLIST}
    ), rer AS (
      SELECT s.query_id, s.neighbor_id,
             {V.sql_dot_scaled('q.embedding', 'x.embedding', _DIM)}::DOUBLE
               / (sqrt(q.nsq::DOUBLE) * sqrt(x.nsq::DOUBLE)) AS cosine
      FROM short s
      JOIN se q ON q.vec_id = s.query_id
      JOIN se x ON x.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rank
          FROM rer)
    WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation: each
    corpus vector compresses to 8 four-bit codes (argmax over 16 ±1
    centroids per 8-dim subspace, exact int64-scaled projections); a query
    scores the WHOLE corpus from its own projection table (``projs``
    doubles as the ADC lookup table: approx-dot(q, x) = Σ_m
    q.projs[m][x.codes[m]]), shortlists ``PQ_SHORTLIST`` (64) by that
    integer score, and exact-cosine re-ranks only the shortlist.

    The 100 TB story: PQ codes are 8 BYTES per vector (vs 256 for the raw
    float32[64]) — the corpus scan in the scoring pass reads 32× less
    data, the per-pair score is 8 integer lookups (no float math), and
    the exact re-rank touches only shortlist·|probes| vectors. This is
    the compressed-domain layout every billion-vector store (FAISS
    IVFPQ-style) uses; the IVF twin (``ann_ivf_topk``) supplies the
    partition-pruning half, this supplies the compression half.

    Determinism: codes, projections, and ADC sums are exact int64 (±1
    centroids on 1e9-scaled components); argmax ties break to the first
    index in both engines (np.argmax / list_position); shortlist and
    final ranks tiebreak on neighbor_id. Not spread() — trivial-per-row
    numpy kernels (see ann_ivf_topk's note)."""
    emb = load(spark, sf_dir, "embeddings")
    enc = V.make_pq_encode_pandas(_PQ_CB)
    # checkpoint: the encode kernel feeds corpus codes, probe LUTs, AND both
    # re-rank sides — one Python pass per vector total.
    coded = (
        emb.select("vec_id", "embedding", enc(F.col("embedding")).alias("pq"))
        .select(
            "vec_id",
            "embedding",
            F.col("pq.codes").alias("codes"),
            F.col("pq.projs").alias("projs"),
            F.col("pq.nsq").alias("nsq"),
        )
        .localCheckpoint()
    )
    corpus = coded.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("codes").alias("c_codes"),
        F.col("nsq").alias("s_nsq"),
    )
    probes = coded.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("projs").alias("q_projs")
    )
    # ADC approximates the raw dot; dividing by the CORPUS norm (query
    # norm is constant within a rank group) makes the shortlist order
    # approximate COSINE — what the exact re-rank and the brute-force
    # twin rank by. One double division per pair, same IEEE op both
    # engines.
    adc = F.aggregate(
        F.zip_with(
            F.col("c_codes"),
            F.sequence(F.lit(0), F.lit(PQ_M - 1)),
            lambda c, m: F.element_at(F.col("q_projs"), (m * PQ_K + c + 1).cast("int")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    ).cast("double") / F.sqrt(F.col("s_nsq").cast("double"))
    scored = corpus.join(
        F.broadcast(probes), F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id", adc.alias("adc"))
    ws = Window.partitionBy("query_id").orderBy(F.desc("adc"), "neighbor_id")
    short = (
        scored.withColumn("srk", F.row_number().over(ws))
        .filter(F.col("srk") <= PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    qa = coded.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nsq").alias("q_nsq"),
    )
    cb = coded.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nsq").alias("c_nsq"),
    )
    dot_pd = V.make_dot_scaled_pandas()
    cosine = V.cosine_from_scaled(
        dot_pd(F.col("q_emb"), F.col("c_emb")), F.col("q_nsq"), F.col("c_nsq")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        short.join(F.broadcast(qa), "query_id")
        .join(cb, "neighbor_id")
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


IVFPQ_SHORTLIST = 64  # ADC shortlist within the probed cells


@query(
    "ann_ivfpq_topk",
    oracle=f"""
    WITH se AS MATERIALIZED (
      SELECT vec_id, embedding, {_SQL_NORM} AS nsq,
             {V.sql_scaled_e9('embedding', _DIM)} AS se
      FROM embeddings
    ), proj AS MATERIALIZED (
      SELECT vec_id, nsq, {V.sql_ivf_projs_from('se', _CENTROIDS)} AS iprojs
      FROM se
    ), rc AS MATERIALIZED (
      SELECT vec_id, nsq, CAST(r.cell AS INT) AS cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY iprojs[r.cell + 1] DESC, r.cell) AS crk
      FROM proj CROSS JOIN range({N_CELLS}) r(cell)
    ), pq AS MATERIALIZED (
      SELECT vec_id, projs, [{_PQ_CODES_SQL}] AS codes
      FROM (SELECT vec_id, {V.sql_pq_projs_from('se', _PQ_CB)} AS projs FROM se)
    ), corpus AS (
      SELECT rc.vec_id, rc.cell, rc.nsq, pq.codes
      FROM rc JOIN pq USING (vec_id) WHERE rc.crk = 1
    ), probes AS (
      SELECT rc.vec_id AS query_id, rc.cell, pq.projs
      FROM rc JOIN pq USING (vec_id)
      WHERE rc.vec_id < {N_QUERY_VECS} AND rc.crk <= {N_PROBE}
    ), scored AS (
      SELECT q.query_id, x.vec_id AS neighbor_id,
             ({_PQ_ADC_SQL})::DOUBLE / sqrt(x.nsq::DOUBLE) AS adc
      FROM probes q JOIN corpus x USING (cell)
      WHERE x.vec_id <> q.query_id
    ), short AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY adc DESC, neighbor_id) AS srk
            FROM scored)
      WHERE srk <= {IVFPQ_SHORTLIST}
    ), rer AS (
      SELECT s.query_id, s.neighbor_id,
             {V.sql_dot_scaled('q.embedding', 'x.embedding', _DIM)}::DOUBLE
               / (sqrt(q.nsq::DOUBLE) * sqrt(x.nsq::DOUBLE)) AS cosine
      FROM short s
      JOIN se q ON q.vec_id = s.query_id
      JOIN se x ON x.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rank
          FROM rer)
    WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ: the composition of both ANN scale techniques — IVF coarse
    cells prune WHERE to look (read ~nprobe/cells of the corpus via
    partition pruning), PQ codes compress WHAT is read there (8 bytes
    per vector, ADC integer scoring), exact cosine re-ranks only the
    shortlist. This is the standard billion-vector layout (FAISS
    IVFPQ): at 100 TB the inverted lists are parquet partitions keyed
    by cell storing (vec_id, codes, nsq) — the scoring pass never
    touches raw embeddings, which live in a separate table joined only
    for the ~shortlist·|probes| re-rank rows.

    Determinism: identical machinery to ann_ivf_topk (argmax cells,
    stable probe order) and ann_pq_adc_topk (int64 ADC, corpus-norm
    cosine normalization, first-max code ties); every ranking stage
    tiebreaks on neighbor_id."""
    emb = load(spark, sf_dir, "embeddings")
    enc = V.make_ivfpq_encode_pandas(_CENTROIDS, _PQ_CB)
    prb = V.make_ivfpq_probes_pandas(_CENTROIDS, _PQ_CB, N_PROBE)
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        enc(F.col("embedding")).alias("e"),
    ).select(
        "neighbor_id",
        "c_emb",
        F.col("e.cell").alias("cell"),
        F.col("e.codes").alias("c_codes"),
        F.col("e.nsq").alias("c_nsq"),
    ).localCheckpoint()
    probes = (
        emb.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            prb(F.col("embedding")).alias("p"),
        )
        .select(
            "query_id",
            "q_emb",
            F.col("p.projs").alias("q_projs"),
            F.col("p.nsq").alias("q_nsq"),
            F.explode(F.col("p.cells")).alias("cell"),
        )
    )
    adc = F.aggregate(
        F.zip_with(
            F.col("c_codes"),
            F.sequence(F.lit(0), F.lit(PQ_M - 1)),
            lambda c, m: F.element_at(F.col("q_projs"), (m * PQ_K + c + 1).cast("int")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    ).cast("double") / F.sqrt(F.col("c_nsq").cast("double"))
    scored = (
        corpus.drop("c_emb")
        .join(F.broadcast(probes.drop("q_emb", "q_nsq")), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", adc.alias("adc"))
    )
    ws = Window.partitionBy("query_id").orderBy(F.desc("adc"), "neighbor_id")
    short = (
        scored.withColumn("srk", F.row_number().over(ws))
        .filter(F.col("srk") <= IVFPQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    # re-rank probe side comes straight from the scan (norm_sq_scaled is
    # bit-identical to the kernel's nsq), not from probes.distinct() —
    # no array-keyed dedup shuffle
    qa = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        V.norm_sq_scaled(F.col("embedding")).alias("q_nsq"),
    )
    cb = corpus.select("neighbor_id", "c_emb", "c_nsq")
    dot_pd = V.make_dot_scaled_pandas()
    cosine = V.cosine_from_scaled(
        dot_pd(F.col("q_emb"), F.col("c_emb")), F.col("q_nsq"), F.col("c_nsq")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        short.join(F.broadcast(qa), "query_id")
        .join(cb, "neighbor_id")
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


# --- k-means: two full Lloyd iterations in fixed-point arithmetic -------
KM_K = 4
KM_DIM = 64
KM_SHIFT = 10_000  # shift e4-scaled comps non-negative so floor-division
# of centroid means is identical in both engines (Spark `div` truncates
# toward zero, DuckDB `//` floors — they agree only on non-negatives)

_KM_X = (
    "[CAST(ROUND(embedding[i]::DOUBLE * 1e4) AS BIGINT) + "
    f"{KM_SHIFT} for i in range(1, {KM_DIM + 1})]"
)


def _km_dist(a: str, b: str) -> str:
    return (
        f"list_sum([({a}[i] - {b}[i]) * ({a}[i] - {b}[i]) "
        f"for i in range(1, {KM_DIM + 1})])"
    )


_KM_SUMS = ", ".join(f"SUM(x[{i + 1}]) AS s{i}" for i in range(KM_DIM))
_KM_C2 = (
    "[" + ", ".join(f"CAST(s{i} // n AS BIGINT)" for i in range(KM_DIM)) + "]"
)


@query(
    "kmeans_lloyd_clusters",
    oracle=f"""
    WITH xs AS MATERIALIZED (
      SELECT vec_id, {_KM_X} AS x FROM embeddings
    ), seeds AS (
      SELECT vec_id AS c, x AS cx FROM xs WHERE vec_id < {KM_K}
    ), a1 AS (
      SELECT vec_id, x, c FROM (
        SELECT x.vec_id, x.x, s.c,
               ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                  ORDER BY {_km_dist('x.x', 's.cx')}, s.c) AS rk
        FROM xs x CROSS JOIN seeds s
      ) WHERE rk = 1
    ), m1 AS (
      SELECT c, COUNT(*) AS n, {_KM_SUMS} FROM a1 GROUP BY c
    ), cent2 AS (
      SELECT c, n, {_KM_C2} AS cx FROM m1
    ), a2 AS (
      SELECT vec_id, c, dist FROM (
        SELECT x.vec_id, s.c, {_km_dist('x.x', 's.cx')} AS dist,
               ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                  ORDER BY {_km_dist('x.x', 's.cx')}, s.c) AS rk
        FROM xs x CROSS JOIN cent2 s
      ) WHERE rk = 1
    )
    SELECT a.c AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(a.dist) AS BIGINT) AS inertia,
           (s.cx[1] - {KM_SHIFT})::DOUBLE / 1e4 AS c0,
           (s.cx[2] - {KM_SHIFT})::DOUBLE / 1e4 AS c1
    FROM a2 a JOIN cent2 s USING (c)
    GROUP BY a.c, s.cx[1], s.cx[2]
    ORDER BY cluster_id
    """,
)
def kmeans_lloyd_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two full Lloyd iterations of k-means (k=4, seeds = vec_id 0..3):
    assign → update → re-assign, reporting per-cluster size, inertia
    (Σ squared distance to the updated centroid), and the centroid's
    first two components. ``embedding_centroid_distance`` is the single
    E-step; this is the LOOP — the workload shape of every iterative ML
    fit on Spark (driver loop, each step declarative join+agg, state =
    the k×d centroid table, broadcast every pass).

    Determinism (the hard part of distributed k-means): components are
    fixed-point e4 integers (shifted non-negative), distances are exact
    int64 sums of squares, the argmin breaks ties by centroid id, and
    updated centroids are FLOOR-quantized integer means (`sum div n` —
    identical floor semantics in both engines on non-negatives, ≤1e-4
    per-component quantization). No double enters any comparison, so
    partition order and engine cannot flip an assignment — the classic
    irreproducibility of float k-means is engineered out.

    Scale shape: each iteration is one crossJoin with the BROADCAST k×d
    centroid table + a per-vector argmin (WindowGroupLimit over k rows
    per vector) + one map-side-combinable groupBy(c) whose output is
    again k rows — per-iteration shuffle bytes are O(k·d), independent
    of corpus size. The int64 bound holds while cluster_size · 2e4 <
    3e9 per component sum — rescale to e3 beyond ~10⁵-member clusters
    (documented, not silently wrong: sums are exact or the job fails
    loudly on overflow in ANSI mode)."""
    emb = spread(load(spark, sf_dir, "embeddings"))
    x = F.transform(
        F.col("embedding"),
        lambda v: F.round(v.cast("double") * 1e4).cast("bigint") + F.lit(KM_SHIFT),
    )
    xs = emb.select("vec_id", x.alias("x")).localCheckpoint()
    seeds = xs.filter(F.col("vec_id") < KM_K).select(
        F.col("vec_id").alias("c"), F.col("x").alias("cx")
    )

    def dist(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda p, q: (p - q) * (p - q)),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )

    def assign(cents: DataFrame) -> DataFrame:
        rk = Window.partitionBy("vec_id").orderBy("dist", "c")
        return (
            xs.crossJoin(F.broadcast(cents))
            .select("vec_id", "x", "c", dist(F.col("x"), F.col("cx")).alias("dist"))
            .withColumn("rk", F.row_number().over(rk))
            .filter(F.col("rk") == 1)
        )

    a1 = assign(seeds)
    m1 = a1.groupBy("c").agg(
        F.count("*").alias("n"),
        *[F.sum(F.element_at("x", i + 1)).alias(f"s{i}") for i in range(KM_DIM)],
    )
    cent2 = m1.select(
        "c",
        "n",
        F.array(*[F.expr(f"s{i} div n") for i in range(KM_DIM)]).alias("cx"),
    ).localCheckpoint()  # k rows, used twice (assignment + output) — without
    # the checkpoint the whole a1 pass re-executes for the output join
    a2 = assign(cent2.select("c", "cx"))
    c0 = (F.element_at("cx", 1) - KM_SHIFT).cast("double") / 1e4
    c1 = (F.element_at("cx", 2) - KM_SHIFT).cast("double") / 1e4
    return (
        a2.groupBy("c")
        .agg(F.count("*").alias("n_members"), F.sum("dist").alias("inertia"))
        .join(F.broadcast(cent2.select("c", "cx")), "c")
        .select(
            F.col("c").alias("cluster_id"),
            "n_members",
            "inertia",
            c0.alias("c0"),
            c1.alias("c1"),
        )
        .orderBy("cluster_id")
    )


@query(
    "embedding_norm_profile",
    oracle=f"""
    WITH n AS (
      SELECT label, {V.sql_dot_scaled('embedding', 'embedding', 64)} AS nsq
      FROM embeddings
    )
    SELECT CAST(label AS INT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(MIN(nsq) AS BIGINT) AS min_nsq_scaled,
           CAST(MAX(nsq) AS BIGINT) AS max_nsq_scaled,
           CAST(SUM(nsq) AS BIGINT)::DOUBLE / COUNT(*) / 1e18 AS mean_norm_sq,
           CAST(SUM(CASE WHEN nsq = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_vectors
    FROM n GROUP BY label
    ORDER BY label
    """,
)
def embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table QA: per label, the distribution of squared vector
    norms (e9-scaled exact integers) and the zero-vector count — the
    sanity gate an ANN pipeline runs on ingest, since zero/degenerate
    vectors break cosine and inflated norms distort inner-product
    rankings (every ANN query in this repo guards on nsq; this is the
    table-level audit of the same quantity).

    Determinism: norms are the exact int64-scaled dots used repo-wide;
    min/max/count/zero-count are integers; the mean is one double chain
    on the exact sum.

    Scale shape: one per-row projection + a map-side-combinable
    label-keyed aggregate; output is label-cardinality-sized."""
    emb = spread(load(spark, sf_dir, "embeddings"))
    n = emb.select("label", V.norm_sq_scaled(F.col("embedding")).alias("nsq"))
    return (
        n.groupBy(F.col("label").cast("int").alias("label"))
        .agg(
            F.count("*").alias("n_vectors"),
            F.min("nsq").alias("min_nsq_scaled"),
            F.max("nsq").alias("max_nsq_scaled"),
            (F.sum("nsq").cast("double") / F.count("*") / F.lit(1e18)).alias(
                "mean_norm_sq"
            ),
            F.sum(F.when(F.col("nsq") == 0, 1).otherwise(0)).alias("n_zero_vectors"),
        )
        .orderBy("label")
    )


_LC_SUMS = ", ".join(
    f"SUM(CAST(ROUND(embedding[{i + 1}]::DOUBLE * 1e4) AS BIGINT) + {KM_SHIFT}) AS s{i}"
    for i in range(KM_DIM)
)
_LC_CENT = "[" + ", ".join(f"CAST(s{i} // n AS BIGINT)" for i in range(KM_DIM)) + "]"


@query(
    "label_centroid_distances",
    oracle=f"""
    WITH sums AS (
      SELECT label, COUNT(*) AS n, {_LC_SUMS}
      FROM embeddings GROUP BY label
    ), cents AS (
      SELECT label, n, {_LC_CENT} AS cx FROM sums
    )
    SELECT CAST(a.label AS INT) AS label_a, CAST(b.label AS INT) AS label_b,
           CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
           CAST({_km_dist('a.cx', 'b.cx')} AS BIGINT) AS dist_sq_scaled,
           sqrt(CAST({_km_dist('a.cx', 'b.cx')} AS BIGINT)::DOUBLE) / 1e4 AS dist
    FROM cents a JOIN cents b ON a.label < b.label
    ORDER BY label_a, label_b
    """,
)
def label_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise distances between per-label embedding centroids — the
    drift/separation monitor an embedding pipeline tracks over time
    (cohort centroids collapsing toward each other = the model stopped
    separating classes; one centroid migrating = upstream distribution
    shift). Uses the same fixed-point algebra as
    ``kmeans_lloyd_clusters``: e4-scaled shifted integer component sums,
    floor-quantized means, exact int64 squared distances; sqrt is the
    single libm call, applied to an identical integer in both engines.

    Scale shape: ONE map-side-combinable groupBy(label) collapses any
    corpus to k×(d+1) integers; the pairwise join runs on k rows."""
    emb = spread(load(spark, sf_dir, "embeddings"))
    x = F.transform(
        F.col("embedding"),
        lambda v: F.round(v.cast("double") * 1e4).cast("bigint") + F.lit(KM_SHIFT),
    )
    sums = (
        emb.select("label", x.alias("x"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            *[F.sum(F.element_at("x", i + 1)).alias(f"s{i}") for i in range(KM_DIM)],
        )
    )
    cents = sums.select(
        "label",
        "n",
        F.array(*[F.expr(f"s{i} div n") for i in range(KM_DIM)]).alias("cx"),
    )
    a = cents.select(
        F.col("label").cast("int").alias("label_a"),
        F.col("n").alias("n_a"),
        F.col("cx").alias("cxa"),
    )
    b = cents.select(
        F.col("label").cast("int").alias("label_b"),
        F.col("n").alias("n_b"),
        F.col("cx").alias("cxb"),
    )
    dist_sq = F.aggregate(
        F.zip_with(F.col("cxa"), F.col("cxb"), lambda p, q: (p - q) * (p - q)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    return (
        a.join(b, F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            "n_a",
            "n_b",
            dist_sq.alias("dist_sq_scaled"),
            (F.sqrt(dist_sq.cast("double")) / F.lit(1e4)).alias("dist"),
        )
        .orderBy("label_a", "label_b")
    )


@query(
    "embedding_dispersion",
    oracle=f"""
    WITH ex AS (
      SELECT label, u.i AS dim,
             CAST(ROUND(embedding[u.i]::DOUBLE * 1e6) AS BIGINT) AS iv
      FROM embeddings, unnest(range(1, {_DIM + 1})) AS u(i)
    ), sd AS (
      SELECT label, dim, SUM(iv) AS sdim, SUM(CAST(iv * iv AS HUGEINT)) AS ssqd
      FROM ex GROUP BY label, dim
    ), nl AS (
      SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label
    ), lab AS (
      SELECT s.label, MAX(n.n) AS n,
             SUM(s.ssqd) AS ssq,
             SUM(CAST(s.sdim AS HUGEINT) * s.sdim) AS s2
      FROM sd s JOIN nl n USING (label) GROUP BY s.label
    ), gd AS (
      SELECT dim, SUM(sdim) AS gsdim, SUM(ssqd) AS gssq FROM sd GROUP BY dim
    ), gall AS (
      SELECT -1 AS label, (SELECT COUNT(*) FROM embeddings) AS n,
             SUM(gssq) AS ssq, SUM(CAST(gsdim AS HUGEINT) * gsdim) AS s2
      FROM gd
    ), unioned AS (
      SELECT label, n, ssq, s2 FROM lab
      UNION ALL SELECT label, n, ssq, s2 FROM gall
    )
    SELECT CAST(label AS INT) AS label, CAST(n AS BIGINT) AS n_vectors,
           CASE WHEN n > 1 THEN
             ROUND(CAST(2 * (n * ssq - s2) AS DOUBLE)
                   / CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE) / 1e12, 9)
           END AS mean_sq_dist,
           ROUND(sqrt(CAST(s2 AS DOUBLE)) / CAST(n AS DOUBLE) / 1e6, 9)
             AS centroid_norm
    FROM unioned
    ORDER BY label
    """,
)
def embedding_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space dispersion per label (and label = -1 for the whole
    corpus): the mean squared pairwise distance between distinct vectors
    and the centroid norm — the diversity dashboard a curation pipeline
    watches so that aggressive dedup/filtering does not collapse
    representation coverage (dispersion falling while volume holds =
    mode collapse; computed WITHOUT any pairwise work via the centroid
    identity E||x−y||² = 2·(Σ||x||²/n − ||μ||²)).

    Determinism: per-dimension component sums and sums of squares are
    EXACT integers — components scaled ×1e6 to int64, squares summed in
    Spark decimal(38) / DuckDB HUGEINT. Exactness bound: decimal(38)
    holds while s2 ≈ n²·1e12 per label stays under 38 digits (n ≲ 1e13
    vectors per label — far past any real corpus); beyond it Spark
    yields NULL (non-ANSI decimal overflow), never a silently wrong
    value, while HUGEINT (128-bit) runs on. The two output doubles are
    single fixed cast-divide chains on those exact integers, rounded to
    9 decimals on both engines.

    Scale shape: one posexplode shuffles (label, dim) pairs that
    collapse map-side to |labels|×|dims| rows; label totals AND the
    global row both derive from that tiny table (the global per-dim sums
    are sums over labels — no second data pass); no joins of data-sized
    tables, no windows."""
    emb = load(spark, sf_dir, "embeddings")
    ex = (
        spread(emb)
        .select("label", F.posexplode(F.col("embedding")))
        .select(
            "label",
            (F.col("pos") + 1).alias("dim"),
            F.round(F.col("col").cast("double") * 1e6).cast("bigint").alias("iv"),
        )
    )
    sd = ex.groupBy("label", "dim").agg(
        F.sum("iv").alias("sdim"),
        F.sum((F.col("iv") * F.col("iv")).cast("decimal(20,0)")).alias("ssqd"),
    )
    nl = emb.groupBy("label").agg(F.count("*").alias("n"))
    lab = (
        sd.join(nl, "label")
        .groupBy("label")
        .agg(
            F.max("n").alias("n"),
            F.sum("ssqd").alias("ssq"),
            F.sum(F.col("sdim").cast("decimal(19,0)") * F.col("sdim")).alias("s2"),
        )
    )
    gd = sd.groupBy("dim").agg(F.sum("sdim").alias("gsdim"), F.sum("ssqd").alias("gssq"))
    ntot = emb.agg(F.count("*").alias("n"))
    glob = (
        gd.agg(
            F.sum("gssq").alias("ssq"),
            F.sum(F.col("gsdim").cast("decimal(19,0)") * F.col("gsdim")).alias("s2"),
        )
        .crossJoin(F.broadcast(ntot))
        .select(F.lit(-1).alias("label"), "n", "ssq", "s2")
    )
    unioned = lab.select("label", "n", "ssq", "s2").unionByName(glob)
    mean_sq = F.round(
        (2 * (F.col("n") * F.col("ssq") - F.col("s2"))).cast("double")
        / F.col("n").cast("double")
        / (F.col("n") - 1).cast("double")
        / F.lit(1e12),
        9,
    )
    cnorm = F.round(
        F.sqrt(F.col("s2").cast("double")) / F.col("n").cast("double") / F.lit(1e6), 9
    )
    return unioned.select(
        F.col("label").cast("int").alias("label"),
        F.col("n").cast("bigint").alias("n_vectors"),
        F.when(F.col("n") > 1, mean_sq).alias("mean_sq_dist"),
        cnorm.alias("centroid_norm"),
    ).orderBy("label")


# --- SemDeDup: cluster-then-pair semantic deduplication ------------------

SEM_CELL_CAP = 20  # first-level cells larger than this re-split (sf0.01
# max cell is 25, so the driver compare exercises BOTH key paths)
SEM_HARD_CAP = 10_000  # largest allowed (cell, subkey) group — the same
# never-silently-quadratic bound as dedup_embedding_cosine's anchor guard
N_SUBCELLS = 8  # second-level quantizer fan-out
_SUB_CENTROIDS = V.ivf_centroids(cells=N_SUBCELLS, dim=_DIM, prefix="ivf-sub")


def semdedup_keyed_assignment(emb: DataFrame, cell_cap: int) -> DataFrame:
    """The SemDeDup pairing-key stage, reusable so tests can drive it
    with adversarial inputs: one fused Arrow pass assigns every vector
    its first-level ``cell``, second-level ``sub`` and exact ``nsq``;
    a cell-cardinality-sized count then re-splits every cell larger
    than ``cell_cap`` by the second-level key (``subkey = sub`` inside
    oversized cells, 0 elsewhere — small cells pair whole, exactly as
    the un-split operator did). Returns (vec_id, embedding, cell, nsq,
    subkey); checkpointed — it feeds both sides of the pair self-join AND
    the hard-cap guard."""
    cell2_pd = V.make_ivf_cell2_pandas(_CENTROIDS, _SUB_CENTROIDS)
    assigned = (
        emb.select("vec_id", "embedding", cell2_pd(F.col("embedding")).alias("cn"))
        .select(
            "vec_id",
            "embedding",
            F.col("cn.cell").alias("cell"),
            F.col("cn.sub").alias("sub"),
            F.col("cn.nsq").alias("nsq"),
        )
        .localCheckpoint()  # feeds both join sides + the guard count — without
        # this the Arrow encode pass runs 3x
    )
    sizes = assigned.groupBy("cell").agg(F.count("*").alias("n_cell"))
    return (
        assigned.join(F.broadcast(sizes), "cell")
        .withColumn(
            "subkey",
            F.when(F.col("n_cell") > cell_cap, F.col("sub")).otherwise(F.lit(0)),
        )
        .drop("n_cell", "sub")
    )


@query(
    "semantic_dedup_pairs",
    oracle=f"""
    WITH se AS MATERIALIZED (
      SELECT vec_id, embedding, {_SQL_NORM} AS nsq,
             {V.sql_scaled_e9('embedding', _DIM)} AS se
      FROM embeddings
    ), proj AS MATERIALIZED (
      SELECT vec_id, embedding, nsq,
             {V.sql_ivf_projs_from('se', _CENTROIDS)} AS projs,
             {V.sql_ivf_projs_from('se', _SUB_CENTROIDS)} AS sprojs
      FROM se
    ), assigned AS MATERIALIZED (
      SELECT vec_id, embedding, nsq,
             CAST(list_position(projs, list_max(projs)) - 1 AS INT) AS cell,
             CAST(list_position(sprojs, list_max(sprojs)) - 1 AS INT) AS sub
      FROM proj
    ), sized AS (
      SELECT cell, COUNT(*) AS n_cell FROM assigned GROUP BY cell
    ), keyed AS MATERIALIZED (
      SELECT a.vec_id, a.embedding, a.nsq, a.cell,
             CASE WHEN s.n_cell > {SEM_CELL_CAP} THEN a.sub ELSE 0 END AS subkey
      FROM assigned a JOIN sized s USING (cell)
    ), scored AS (
      SELECT a.cell AS cell, a.vec_id AS keep_id, b.vec_id AS drop_id,
             {V.sql_dot_scaled('a.embedding', 'b.embedding', _DIM)}::DOUBLE
               / (sqrt(a.nsq::DOUBLE) * sqrt(b.nsq::DOUBLE)) AS cosine
      FROM keyed a JOIN keyed b
        ON a.cell = b.cell AND a.subkey = b.subkey AND a.vec_id < b.vec_id
    )
    SELECT cell, keep_id, drop_id, cosine
    FROM scored WHERE cosine >= {NEAR_DUP_COS}
    ORDER BY cell, keep_id, drop_id
    """,
)
def semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): assign every
    embedding to a coarse cluster, then search for semantic near-dups
    ONLY within each cluster — pairwise cosine is quadratic per cell, not
    per corpus. ``keep_id`` is the lower vec_id of each ≥-threshold pair
    (the paper keeps one representative per dup group; composing with
    ``dedup_connected_components`` on these pairs yields exactly that).

    vs the repo's other embedding-dedup paths: ``dedup_embedding_cosine``
    brute-forces a guarded anchor set, ``ann_srp_lsh_pairs`` buckets by
    random hyperplane signs; this one buckets by a LEARNED-style coarse
    quantizer (here the deterministic IVF directions, so the oracle can
    mirror it), which is the shape that lets the 100 TB run write the
    corpus partitioned by cell and dedup each cell independently.

    Oversized cells RE-SPLIT (the paper's own remedy, implemented): any
    first-level cell with more than ``SEM_CELL_CAP`` members is further
    keyed by an independent second-level quantizer (``N_SUBCELLS``
    directions), so the pairing key becomes (cell, subkey) and the
    quadratic term is bounded by the largest SUB-cell. Cross-sub pairs
    inside an oversized cell are the documented recall trade — the same
    one the first level already makes between cells. A hard guard
    (``SEM_HARD_CAP``, the ``dedup_embedding_cosine`` pattern) raises if
    any pairing group is still oversized — identical-vector floods
    belong to exact dedup upstream; this operator is never silently
    quadratic (``tests/test_scale_guards.py``).

    Determinism: cell/sub = argmax of exact int64 projections (ties to
    the lowest index — np.argmax first-max == list_position first
    occurrence); cosine from exact int64 dots/norms — identical IEEE ops
    in both engines.

    Scale shape: one Arrow pass for cell+sub+norm, a cell-cardinality-
    sized count to pick the re-split cells, a (cell, subkey)-keyed
    equi-join (never all-pairs), exact cosine on candidates only.
    Shuffle keys are (cell, subkey) then nothing — no global sort; the
    output ordering is the driver-side presentation ORDER BY."""
    emb = load(spark, sf_dir, "embeddings")
    keyed = semdedup_keyed_assignment(emb, SEM_CELL_CAP)
    biggest = (
        keyed.groupBy("cell", "subkey")
        .agg(F.count("*").alias("n"))
        .agg(F.max("n").alias("m"))
        .first()["m"]
    )
    if biggest is not None and biggest > SEM_HARD_CAP:
        raise ValueError(
            f"semantic_dedup_pairs: a pairing group holds {biggest} vectors "
            f"(limit {SEM_HARD_CAP}) even after the second-level re-split — "
            "near-identical embedding flood; run dedup_exact_hash / "
            "dedup_embedding_cosine on the offending group or raise "
            "N_SUBCELLS before pairing"
        )
    dot_pd = V.make_dot_scaled_pandas()
    a = keyed.select(
        F.col("cell"),
        F.col("subkey"),
        F.col("vec_id").alias("keep_id"),
        F.col("embedding").alias("emb_a"),
        F.col("nsq").alias("nsq_a"),
    )
    b = keyed.select(
        F.col("cell"),
        F.col("subkey"),
        F.col("vec_id").alias("drop_id"),
        F.col("embedding").alias("emb_b"),
        F.col("nsq").alias("nsq_b"),
    )
    cosine = V.cosine_from_scaled(
        dot_pd(F.col("emb_a"), F.col("emb_b")), F.col("nsq_a"), F.col("nsq_b")
    )
    return (
        a.join(b, ["cell", "subkey"])
        .filter(F.col("keep_id") < F.col("drop_id"))
        .select("cell", "keep_id", "drop_id", cosine.alias("cosine"))
        .filter(F.col("cosine") >= NEAR_DUP_COS)
        .orderBy("cell", "keep_id", "drop_id")
    )


# --- margin-based candidate mining (ratio margin) ------------------------

MARGIN_K = 4  # neighborhood size for the margin denominator
MARGIN_TOP = 40  # pairs reported


@query(
    "margin_candidate_mining",
    oracle=f"""
    WITH norms AS MATERIALIZED (
      SELECT vec_id, embedding, {_SQL_NORM} AS nsq FROM embeddings
    ), pairs AS (
      SELECT qa.vec_id AS src_id, qb.vec_id AS tgt_id,
             {_SQL_DOT_AB}::DOUBLE
               / (sqrt(qa.nsq::DOUBLE) * sqrt(qb.nsq::DOUBLE)) AS cosine
      FROM norms qa JOIN norms qb
        ON qa.vec_id < {N_QUERY_VECS} AND qb.vec_id >= {N_QUERY_VECS}
    ), ranked AS MATERIALIZED (
      SELECT src_id, tgt_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY src_id
                                ORDER BY cosine DESC, tgt_id) AS rk
      FROM pairs
    ), denom AS (
      SELECT src_id,
             SUM(CAST(ROUND(cosine * 1e12) AS BIGINT))::DOUBLE
               / {MARGIN_K} / 1e12 AS avg_topk
      FROM ranked WHERE rk <= {MARGIN_K} GROUP BY src_id
    ), best AS (
      SELECT r.src_id, r.tgt_id, r.cosine,
             CASE WHEN d.avg_topk <> 0 THEN r.cosine / d.avg_topk END AS margin
      FROM ranked r JOIN denom d USING (src_id) WHERE r.rk = 1
    )
    SELECT src_id, tgt_id, cosine, margin, CAST(mrank AS INT) AS mrank
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY margin DESC, src_id) AS mrank
          FROM best)
    WHERE mrank <= {MARGIN_TOP}
    ORDER BY mrank
    """,
)
def margin_candidate_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based candidate mining (Artetxe & Schwenk 2019 — the LASER
    bitext-mining criterion, equally the dedup/alignment scorer for any
    two embedded corpora): for each source vector (vec_id < 50) against
    the target side (vec_id ≥ 50), score its best match by the RATIO
    margin — cosine divided by the mean cosine of its k=4 nearest
    targets — and rank all source pairs by margin. A high absolute
    cosine in a dense hub region scores LOW margin (hub penalty), which
    is precisely why this beats a raw cosine threshold for mining.

    Determinism: cosines from exact int64 dots/norms; the margin is two
    IEEE divides from integer-derived doubles; every rank breaks ties on
    ids.

    Scale shape: identical to ``ann_topk_cosine`` — the source probes
    broadcast against the target corpus, per-source top-k is a
    WindowGroupLimit (never a global sort), the denominator reduces k
    rows per source, and the final margin ranking orders a
    source-set-sized table (50 rows here; at scale, rank-after-limit).
    Swap the brute-force pair stage for the IVF/PQ candidate stage and
    the margin arithmetic is unchanged — it only needs (src, tgt,
    cosine) triples."""
    emb = load(spark, sf_dir, "embeddings")
    norms = spread(emb).select(
        "vec_id", "embedding", V.norm_sq_scaled(F.col("embedding")).alias("nsq")
    )
    src = norms.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("src_id"),
        F.col("embedding").alias("s_emb"),
        F.col("nsq").alias("s_nsq"),
    )
    tgt = norms.filter(F.col("vec_id") >= N_QUERY_VECS).select(
        F.col("vec_id").alias("tgt_id"),
        F.col("embedding").alias("t_emb"),
        F.col("nsq").alias("t_nsq"),
    )
    cosine = V.cosine_from_scaled(
        V.dot_scaled(F.col("s_emb"), F.col("t_emb")), F.col("s_nsq"), F.col("t_nsq")
    )
    wk = Window.partitionBy("src_id").orderBy(F.desc("cosine"), "tgt_id")
    ranked = (
        tgt.join(F.broadcast(src), F.lit(True))
        .select("src_id", "tgt_id", cosine.alias("cosine"))
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= MARGIN_K)
    ).localCheckpoint()  # k rows per source, feeds numerator AND denominator
    # e12-rounded integer sum — a 4-double SUM would be partition-order-
    # dependent in the last bits (the exact.py contract)
    denom = ranked.groupBy("src_id").agg(
        (
            F.sum(F.round(F.col("cosine") * F.lit(1e12)).cast("bigint")).cast("double")
            / F.lit(MARGIN_K)
            / F.lit(1e12)
        ).alias("avg_topk")
    )
    best = (
        ranked.filter(F.col("rk") == 1)
        .join(denom, "src_id")
        .select(
            "src_id",
            "tgt_id",
            "cosine",
            # NULL margin when the k-neighborhood sums to exactly zero
            # cosine (orthogonal probe) — ANSI would fail the job on the
            # bare division; DuckDB would emit inf; CASE on both sides
            F.when(
                F.col("avg_topk") != 0, F.col("cosine") / F.col("avg_topk")
            ).alias("margin"),
        )
    )
    return (
        rank_after_limit(best, [F.desc("margin"), F.col("src_id")], MARGIN_TOP, rank_col="mrank")
        .select("src_id", "tgt_id", "cosine", "margin", "mrank")
        .orderBy("mrank")
    )


# --- reciprocal (mutual) nearest neighbors -------------------------------

RNN_SUBSET = 200  # candidate pool: full pairwise is the oracle contract;
# the scale path swaps this stage for SRP/IVF candidate lists unchanged


@query(
    "reciprocal_nn_pairs",
    oracle=f"""
    WITH norms AS MATERIALIZED (
      SELECT vec_id, embedding, {_SQL_NORM} AS nsq
      FROM embeddings WHERE vec_id < {RNN_SUBSET}
    ), pairs AS (
      SELECT qa.vec_id AS a, qb.vec_id AS b,
             {_SQL_DOT_AB}::DOUBLE
               / (sqrt(qa.nsq::DOUBLE) * sqrt(qb.nsq::DOUBLE)) AS cosine
      FROM norms qa JOIN norms qb ON qa.vec_id <> qb.vec_id
    ), top1 AS (
      SELECT a, b, cosine FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY a
                                     ORDER BY cosine DESC, b) AS rk
        FROM pairs
      ) WHERE rk = 1
    )
    SELECT x.a AS vec_a, x.b AS vec_b, x.cosine
    FROM top1 x JOIN top1 y ON y.a = x.b AND y.b = x.a AND x.a < x.b
    ORDER BY vec_a
    """,
)
def reciprocal_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal (mutual) nearest neighbors: pairs where each vector is
    the OTHER's top-1 cosine neighbor. The highest-precision pairing
    rule in embedding-space matching — used by bitext mining as the
    strict alternative to the margin criterion
    (``margin_candidate_mining``), by SemDeDup-style pipelines as the
    conservative dup pair set, and by cluster seeding (mutual-NN chains).
    Hub vectors (everyone's neighbor, nobody's mutual) drop out for
    free — the property raw top-1 matching lacks.

    Determinism: cosine from exact int64 dots/norms; per-vector argmax
    breaks ties on neighbor id; the mutuality join is exact.

    Scale shape: per-vector top-1 is a WindowGroupLimit behind one
    vec_id partition; mutuality is a self-equi-join of the TOP-1 table
    (one row per vector — corpus-sized, 16 bytes wide, never pairs).
    The all-pairs candidate stage here is the oracle-checkable contract;
    at 100 TB it is replaced by any candidate generator in this module
    (SRP bands / IVF cells) with the top-1 + mutuality stages unchanged."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < RNN_SUBSET)
    norms = spread(emb).select(
        "vec_id", "embedding", V.norm_sq_scaled(F.col("embedding")).alias("nsq")
    )
    qa = norms.select(
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("emb_a"),
        F.col("nsq").alias("nsq_a"),
    )
    qb = norms.select(
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("emb_b"),
        F.col("nsq").alias("nsq_b"),
    )
    dot_pd = V.make_dot_scaled_pandas()
    cosine = V.cosine_from_scaled(
        dot_pd(F.col("emb_a"), F.col("emb_b")), F.col("nsq_a"), F.col("nsq_b")
    )
    rk = Window.partitionBy("a").orderBy(F.desc("cosine"), "b")
    top1 = (
        qb.join(F.broadcast(qa), F.col("a") != F.col("b"))
        .select("a", "b", cosine.alias("cosine"))
        .withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select("a", "b", "cosine")
    )
    y = top1.select(F.col("a").alias("b"), F.col("b").alias("a"))
    return (
        top1.join(y, ["a", "b"])
        .filter(F.col("a") < F.col("b"))
        .select(F.col("a").alias("vec_a"), F.col("b").alias("vec_b"), "cosine")
        .orderBy("vec_a")
    )


# --- contrastive triplet mining ------------------------------------------


@query(
    "contrastive_triplet_mining",
    oracle=f"""
    WITH norms AS MATERIALIZED (
      SELECT vec_id, embedding, {_SQL_NORM} AS nsq FROM embeddings
    ), pairs AS (
      SELECT qa.vec_id AS anchor_id, qb.vec_id AS cand_id,
             {_SQL_DOT_AB}::DOUBLE
               / (sqrt(qa.nsq::DOUBLE) * sqrt(qb.nsq::DOUBLE)) AS cosine
      FROM norms qa JOIN norms qb
        ON qa.vec_id < {N_QUERY_VECS} AND qa.vec_id <> qb.vec_id
    ), pos AS (
      SELECT anchor_id, cand_id AS positive_id, cosine AS pos_cosine FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                     ORDER BY cosine DESC, cand_id) AS rk
        FROM pairs WHERE cosine >= {NEAR_DUP_COS}
      ) WHERE rk = 1
    ), neg AS (
      SELECT anchor_id, cand_id AS negative_id, cosine AS neg_cosine FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                     ORDER BY cosine DESC, cand_id) AS rk
        FROM pairs WHERE cosine < {NEAR_DUP_COS}
      ) WHERE rk = 1
    )
    SELECT p.anchor_id, p.positive_id, n.negative_id,
           p.pos_cosine, n.neg_cosine,
           p.pos_cosine - n.neg_cosine AS separation
    FROM pos p JOIN neg n USING (anchor_id)
    ORDER BY p.anchor_id
    """,
)
def contrastive_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive triplet mining (anchor, positive, hard-negative) — the
    training-data generator for embedding fine-tuning (SimCSE/SBERT
    style): per anchor, the positive is its most-similar ≥-threshold
    neighbor (a near-dup / paraphrase stand-in) and the hard negative is
    the MOST similar below-threshold candidate — the negatives that
    actually move a contrastive loss, unlike random negatives which are
    trivially separable. Anchors lacking a positive drop out (inner
    join). ``separation`` is the pos−neg cosine gap the loss will widen.

    Determinism: cosines from exact int64 dots/norms; both argmaxes
    break ties on candidate id; the threshold split uses one comparison
    per pair on bit-identical doubles.

    Scale shape: same broadcast-probe candidate stage as every ANN twin
    (swap in SRP/IVF candidates at scale, stages above unchanged); both
    per-anchor argmaxes are WindowGroupLimit behind ONE anchor_id
    exchange; the final join matches two anchor-sized tables."""
    emb = load(spark, sf_dir, "embeddings")
    norms = spread(emb).select(
        "vec_id", "embedding", V.norm_sq_scaled(F.col("embedding")).alias("nsq")
    )
    anchors = norms.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("a_emb"),
        F.col("nsq").alias("a_nsq"),
    )
    cands = norms.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nsq").alias("c_nsq"),
    )
    cosine = V.cosine_from_scaled(
        V.dot_scaled(F.col("a_emb"), F.col("c_emb")), F.col("a_nsq"), F.col("c_nsq")
    )
    pairs = (
        cands.join(F.broadcast(anchors), F.col("anchor_id") != F.col("cand_id"))
        .select("anchor_id", "cand_id", cosine.alias("cosine"))
        .localCheckpoint()  # feeds both argmax branches
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cosine"), "cand_id")
    pos = (
        pairs.filter(F.col("cosine") >= NEAR_DUP_COS)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "anchor_id",
            F.col("cand_id").alias("positive_id"),
            F.col("cosine").alias("pos_cosine"),
        )
    )
    neg = (
        pairs.filter(F.col("cosine") < NEAR_DUP_COS)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "anchor_id",
            F.col("cand_id").alias("negative_id"),
            F.col("cosine").alias("neg_cosine"),
        )
    )
    return (
        pos.join(neg, "anchor_id")
        .select(
            "anchor_id",
            "positive_id",
            "negative_id",
            "pos_cosine",
            "neg_cosine",
            (F.col("pos_cosine") - F.col("neg_cosine")).alias("separation"),
        )
        .orderBy("anchor_id")
    )


# --- margin mining over IVF candidates (the swap-point, made real) --------


@query(
    "margin_candidate_mining_ivf",
    oracle=f"""
    WITH se AS MATERIALIZED (
      SELECT vec_id, embedding, {_SQL_NORM} AS nsq,
             {V.sql_scaled_e9('embedding', _DIM)} AS se
      FROM embeddings
    ), proj AS MATERIALIZED (
      SELECT vec_id, embedding, nsq,
             {V.sql_ivf_projs_from('se', _CENTROIDS)} AS projs
      FROM se
    ), cells AS (
      SELECT vec_id, embedding, nsq, CAST(r.cell AS INT) AS cell,
             projs[r.cell + 1] AS p
      FROM proj CROSS JOIN range({N_CELLS}) r(cell)
    ), ranked_cells AS MATERIALIZED (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY p DESC, cell) AS crk
      FROM cells
    ), corpus AS (
      SELECT vec_id, embedding, nsq, cell FROM ranked_cells
      WHERE crk = 1 AND vec_id >= {N_QUERY_VECS}
    ), probes AS (
      SELECT vec_id AS src_id, embedding AS s_emb, nsq AS s_nsq, cell
      FROM ranked_cells WHERE vec_id < {N_QUERY_VECS} AND crk <= {N_PROBE}
    ), pairs AS (
      SELECT p.src_id, c.vec_id AS tgt_id,
             {V.sql_dot_scaled('p.s_emb', 'c.embedding', _DIM)}::DOUBLE
               / (sqrt(p.s_nsq::DOUBLE) * sqrt(c.nsq::DOUBLE)) AS cosine
      FROM probes p JOIN corpus c USING (cell)
    ), ranked AS MATERIALIZED (
      SELECT src_id, tgt_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY src_id
                                ORDER BY cosine DESC, tgt_id) AS rk
      FROM pairs
    ), denom AS (
      SELECT src_id,
             SUM(CAST(ROUND(cosine * 1e12) AS BIGINT))::DOUBLE
               / {MARGIN_K} / 1e12 AS avg_topk
      FROM ranked WHERE rk <= {MARGIN_K} GROUP BY src_id
    ), best AS (
      SELECT r.src_id, r.tgt_id, r.cosine,
             CASE WHEN d.avg_topk <> 0 THEN r.cosine / d.avg_topk END AS margin
      FROM ranked r JOIN denom d USING (src_id) WHERE r.rk = 1
    )
    SELECT src_id, tgt_id, cosine, margin, CAST(mrank AS INT) AS mrank
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY margin DESC, src_id) AS mrank
          FROM best)
    WHERE mrank <= {MARGIN_TOP}
    ORDER BY mrank
    """,
)
def margin_candidate_mining_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``margin_candidate_mining`` with its all-pairs candidate stage
    SWAPPED for the IVF candidate generator — the exact substitution the
    brute-force operator's docstring names as its 100 TB path, now an
    oracle-checked query of its own: each source probes its ``N_PROBE``
    best quantizer cells and the ratio-margin arithmetic (cosine over
    the mean of the k=4 nearest CANDIDATES) runs unchanged on the
    (src, tgt, cosine) triples the generator emits. Comparing its output
    against the brute-force twin measures exactly what the approximation
    trades: sources whose true neighborhood lies outside the probed
    cells rank by a shallower denominator.

    Determinism: inherits the IVF argmax (exact int64 projections, ties
    to the lowest cell) and the margin arithmetic's e12-rounded integer
    sums; every rank breaks ties on ids.

    Scale shape: the probe×cell table is tiny and broadcast; candidates
    come from a cell equi-join against the corpus assignment (at 100 TB:
    a partition-pruned read of the cell-partitioned corpus —
    ``tests/test_ivf_layout.py``); per-source top-k is a
    WindowGroupLimit; the final margin ranking is rank-after-limit over
    ≤ ``MARGIN_TOP`` rows. Nothing all-pairs anywhere — this is the
    shape the subset-bounded miners swap to."""
    emb = load(spark, sf_dir, "embeddings")
    cell_pd = V.make_ivf_cell_pandas(_CENTROIDS)
    probes_pd = V.make_ivf_probes_pandas(_CENTROIDS, N_PROBE)
    dot_pd = V.make_dot_scaled_pandas()
    corpus = (
        emb.filter(F.col("vec_id") >= N_QUERY_VECS)
        .select(
            F.col("vec_id").alias("tgt_id"),
            F.col("embedding").alias("t_emb"),
            cell_pd(F.col("embedding")).alias("cn"),
        )
        .select(
            "tgt_id",
            "t_emb",
            F.col("cn.cell").alias("cell"),
            F.col("cn.nsq").alias("t_nsq"),
        )
    )
    probes = (
        emb.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(
            F.col("vec_id").alias("src_id"),
            F.col("embedding").alias("s_emb"),
            probes_pd(F.col("embedding")).alias("pn"),
        )
        .select(
            "src_id",
            "s_emb",
            F.col("pn.nsq").alias("s_nsq"),
            F.explode(F.col("pn.cells")).alias("cell"),
        )
    )
    cosine = V.cosine_from_scaled(
        dot_pd(F.col("s_emb"), F.col("t_emb")), F.col("s_nsq"), F.col("t_nsq")
    )
    wk = Window.partitionBy("src_id").orderBy(F.desc("cosine"), "tgt_id")
    ranked = (
        corpus.join(F.broadcast(probes), "cell")
        .select("src_id", "tgt_id", cosine.alias("cosine"))
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= MARGIN_K)
    ).localCheckpoint()  # k rows per source, feeds numerator AND denominator
    denom = ranked.groupBy("src_id").agg(
        (
            F.sum(F.round(F.col("cosine") * F.lit(1e12)).cast("bigint")).cast("double")
            / F.lit(MARGIN_K)
            / F.lit(1e12)
        ).alias("avg_topk")
    )
    best = (
        ranked.filter(F.col("rk") == 1)
        .join(denom, "src_id")
        .select(
            "src_id",
            "tgt_id",
            "cosine",
            F.when(
                F.col("avg_topk") != 0, F.col("cosine") / F.col("avg_topk")
            ).alias("margin"),
        )
    )
    return (
        rank_after_limit(
            best, [F.desc("margin"), F.col("src_id")], MARGIN_TOP, rank_col="mrank"
        )
        .select("src_id", "tgt_id", "cosine", "margin", "mrank")
        .orderBy("mrank")
    )


# --- distributed PCA (power iteration, cross-engine exact) ----------------

PCA_ITERS = 4
_PCA_W0 = 125_000  # uniform start direction, 1e6-scaled (1/8 per component)
# int64-exactness bound for the per-dimension Σ dq·xv sums: terms are
# ≤ |dq|max(6.4e7) · |xv|max(1e6) = 6.4e13, and 9.2e18 / 6.4e13 ≈ 1.4e5
PCA_MAX_ROWS = 140_000
_SE6 = (
    f"[CAST(ROUND(embedding[i]::DOUBLE * 1e6) AS BIGINT) "
    f"for i in range(1, {_DIM + 1})]"
)
_PCA_SUMS = ", ".join(f"SUM(dq * se[{j}])" for j in range(1, _DIM + 1))


def _sql_pca_stage(t: int) -> str:
    return f"""d{t} AS MATERIALIZED (
      SELECT CAST(ROUND(CAST(list_dot_product(se::DOUBLE[],
                               (SELECT w FROM w{t - 1})::DOUBLE[]) AS BIGINT)::DOUBLE
                        / 1e6) AS BIGINT) AS dq,
             se
      FROM sem
    ), w{t} AS MATERIALIZED (
      SELECT [CAST(ROUND(vq[i]::DOUBLE
                         / sqrt(list_sum([vq[j] * vq[j]
                                          for j in range(1, {_DIM + 1})])::DOUBLE)
                         * 1e6) AS BIGINT)
              for i in range(1, {_DIM + 1})] AS w
      FROM (SELECT [CAST(ROUND(v[i]::DOUBLE / 1e9) AS BIGINT)
                    for i in range(1, {_DIM + 1})] AS vq
            FROM (SELECT list_value({_PCA_SUMS}) AS v FROM d{t}))
    )"""


_PCA_STAGES = ",\n    ".join(_sql_pca_stage(t) for t in range(1, PCA_ITERS + 1))


@query(
    "pca_power_iteration",
    oracle=f"""
    WITH sem AS MATERIALIZED (
      SELECT {_SE6} AS se FROM embeddings
    ), w0 AS (
      SELECT [{_PCA_W0} for i in range(1, {_DIM + 1})]::BIGINT[] AS w
    ),
    {_PCA_STAGES}
    SELECT CAST(r.i AS INT) AS dim, w[r.i]::DOUBLE / 1e6 AS loading
    FROM w{PCA_ITERS}, range(1, {_DIM + 1}) r(i)
    WHERE (SELECT COUNT(*) FROM embeddings) > 0
    ORDER BY dim
    """,
)
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding matrix by POWER
    ITERATION — the distributed linear-algebra shape (w ← XᵀXw,
    normalize) behind PCA whitening, spectral dedup (the SemDeDup
    paper's preprocessing), and embedding-drift monitors. Uncentered
    (top singular direction): the dominant axis of the raw embeddings.

    Determinism across engines is the point: every step is either exact
    int64 (scaled dots — |x|≤1 ⇒ terms ≤1e12, 64-dim sums ≤6.4e13;
    per-dimension Σ dq·xs sums, bounded by n·3.7e13 — int64-safe to
    ~10⁵ rows, rescale dq for more) or a deterministic IEEE op sequence
    (int→double casts, one divide, one sqrt, one half-away round) that
    both engines evaluate identically. The iterated 64-vector state is
    collected to the driver as INTEGERS each round (the kmeans
    broadcast-centroid shape) — no float ever crosses an engine
    boundary. Oracle = the same {PCA_ITERS} iterations unrolled as
    materialized CTEs.

    Scale shape: each iteration is one map-side dot product + one
    (dimension)-keyed sum — 64·n skinny rows collapsing map-side to 64
    per partition (swap the posexplode for an Arrow partial-sum kernel
    at extreme scale; the algebra is identical); the normalization is
    arithmetic on a 64-row table. Exactly the shape of distributed
    Lanczos/orthogonal iteration with more vectors."""
    emb = spread(load(spark, sf_dir, "embeddings"))
    se6 = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * F.lit(1e6)).cast("bigint"),
    )
    sem = emb.select(se6.alias("se")).localCheckpoint()
    # Never-silently-wrong guard (ADVICE r6): the per-dimension
    # Σ dq·xv accumulates |term| ≤ 6.4e7 · 1e6 = 6.4e13, so int64
    # (9.2e18) is exact only to ~1.4e5 rows. Past the bound raise with
    # the rescale route instead of returning silently-overflowed
    # loadings.
    n_rows = sem.count()
    if n_rows > PCA_MAX_ROWS:
        raise ValueError(
            f"pca_power_iteration: {n_rows} embedding rows exceed the "
            f"int64-exact bound {PCA_MAX_ROWS} for the e6·e6-scaled "
            "per-dimension sums — drop the dq scale to e3 (keeping the "
            "oracle in lockstep) or shard the Σ dq·x accumulation "
            "before raising the cap"
        )
    w = [_PCA_W0] * _DIM
    for _ in range(PCA_ITERS):
        warr = F.array(*[F.lit(int(wj)).cast("bigint") for wj in w])
        dot = F.aggregate(
            F.zip_with(F.col("se"), warr, lambda a, b: a * b),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        d = sem.select(
            F.round(dot.cast("double") / F.lit(1e6)).cast("bigint").alias("dq"),
            "se",
        )
        v = (
            d.select("dq", F.posexplode("se").alias("j", "xv"))
            .groupBy("j")
            .agg(F.sum(F.col("dq") * F.col("xv")).alias("v"))
            .select("j", F.round(F.col("v").cast("double") / F.lit(1e9)).cast("bigint").alias("vq"))
        )
        norm2 = v.agg(F.sum(F.col("vq") * F.col("vq")).alias("n2"))
        wrows = (
            v.crossJoin(F.broadcast(norm2))
            .select(
                "j",
                F.round(
                    F.col("vq").cast("double")
                    / F.sqrt(F.col("n2").cast("double"))
                    * F.lit(1e6)
                )
                .cast("bigint")
                .alias("wj"),
            )
            .collect()
        )
        if not wrows:  # empty input: no direction to report
            return spark.createDataFrame([], "dim int, loading double")
        got = {r.j: r.wj for r in wrows}
        w = [int(got[j]) for j in range(_DIM)]
    return spark.createDataFrame(
        [(j + 1, w[j] / 1e6) for j in range(_DIM)], "dim int, loading double"
    ).orderBy("dim")


# --- density-based clustering (DBSCAN over the SemDeDup cell graph) -------

DENS_COS = 0.25  # epsilon: neighbor iff cosine >= this (looser than the
# dedup threshold — clustering wants neighborhoods, not near-copies)
DENS_MINPTS = 2  # core point needs >= this many neighbors

# Same two-level keyed assignment as semantic_dedup_pairs' oracle —
# generated from the same constants so the two cannot desynchronize.
_SEM_KEYED_SQL = f"""se AS MATERIALIZED (
      SELECT vec_id, embedding, {_SQL_NORM} AS nsq,
             {V.sql_scaled_e9('embedding', _DIM)} AS se
      FROM embeddings
    ), proj AS MATERIALIZED (
      SELECT vec_id, embedding, nsq,
             {V.sql_ivf_projs_from('se', _CENTROIDS)} AS projs,
             {V.sql_ivf_projs_from('se', _SUB_CENTROIDS)} AS sprojs
      FROM se
    ), assigned AS MATERIALIZED (
      SELECT vec_id, embedding, nsq,
             CAST(list_position(projs, list_max(projs)) - 1 AS INT) AS cell,
             CAST(list_position(sprojs, list_max(sprojs)) - 1 AS INT) AS sub
      FROM proj
    ), sized AS (
      SELECT cell, COUNT(*) AS n_cell FROM assigned GROUP BY cell
    ), keyed AS MATERIALIZED (
      SELECT a.vec_id, a.embedding, a.nsq, a.cell,
             CASE WHEN s.n_cell > {SEM_CELL_CAP} THEN a.sub ELSE 0 END AS subkey
      FROM assigned a JOIN sized s USING (cell)
    )"""


@query(
    "density_core_clusters",
    oracle=f"""
    WITH RECURSIVE {_SEM_KEYED_SQL}, dpairs AS MATERIALIZED (
      SELECT a.vec_id AS a, b.vec_id AS b
      FROM keyed a JOIN keyed b
        ON a.cell = b.cell AND a.subkey = b.subkey AND a.vec_id < b.vec_id
      WHERE {V.sql_dot_scaled('a.embedding', 'b.embedding', _DIM)}::DOUBLE
              / (sqrt(a.nsq::DOUBLE) * sqrt(b.nsq::DOUBLE)) >= {DENS_COS}
    ), sym AS MATERIALIZED (
      SELECT a, b FROM dpairs UNION ALL SELECT b AS a, a AS b FROM dpairs
    ), deg AS MATERIALIZED (
      SELECT a AS vec_id, COUNT(*) AS degree FROM sym GROUP BY a
    ), core AS MATERIALIZED (
      SELECT vec_id FROM deg WHERE degree >= {DENS_MINPTS}
    ), cedges AS MATERIALIZED (
      SELECT s.a, s.b FROM sym s
      JOIN core x ON x.vec_id = s.a JOIN core y ON y.vec_id = s.b
    ), reach(v, label) AS (
      SELECT vec_id, vec_id FROM core
      UNION
      SELECT e.b, r.label FROM reach r JOIN cedges e ON e.a = r.v
      WHERE r.label < e.b
    ), clab AS MATERIALIZED (
      SELECT v AS vec_id, MIN(label) AS cluster_id FROM reach GROUP BY v
    ), border AS MATERIALIZED (
      SELECT s.a AS vec_id, MIN(c.cluster_id) AS cluster_id
      FROM sym s JOIN clab c ON c.vec_id = s.b
      WHERE s.a NOT IN (SELECT vec_id FROM core)
      GROUP BY s.a
    )
    SELECT e.vec_id,
           CAST(COALESCE(d.degree, 0) AS BIGINT) AS degree,
           CASE WHEN cl.cluster_id IS NOT NULL THEN 'core'
                WHEN bo.cluster_id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           COALESCE(cl.cluster_id, bo.cluster_id) AS cluster_id
    FROM embeddings e
    LEFT JOIN deg d ON d.vec_id = e.vec_id
    LEFT JOIN clab cl ON cl.vec_id = e.vec_id
    LEFT JOIN border bo ON bo.vec_id = e.vec_id
    ORDER BY e.vec_id
    """,
)
def density_core_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN over the embedding space, composed from the repo's own
    primitives (Ester et al. 1996, the LSH-bucketed variant): the
    ε-neighborhood is cosine ≥ {DENS_COS} WITHIN the SemDeDup two-level
    cell key (``semdedup_keyed_assignment`` — the quantizer bounds the
    pair search exactly as it bounds dedup), core points have ≥
    {DENS_MINPTS} neighbors, clusters are connected components of the
    core-core graph (min-label propagation to the fixed point), border
    points attach to their lowest-id core cluster, the rest is noise.
    Cross-cell neighbors are the documented recall trade inherited from
    the quantizer.

    Determinism: cosine from exact int64 dots/norms; degrees and labels
    are integers; border assignment and component ids MIN-total-ordered.
    Oracle runs the same closure as a recursive CTE (the
    ``dedup_connected_components`` pattern).

    Scale shape: pair finding inherits the cell equi-join (+ re-split
    cap) from SemDeDup; degree/core are map-side-combinable aggregates;
    the component loop iterates on the CORE-CORE edge list only
    (diameter-bounded, each step one join+MIN-agg, run by
    ``min_label_propagate`` so the logical plan stays one round deep);
    the border join touches the pair list once."""
    emb = load(spark, sf_dir, "embeddings")
    keyed = semdedup_keyed_assignment(emb, SEM_CELL_CAP)
    dot_pd = V.make_dot_scaled_pandas()
    a = keyed.select(
        "cell", "subkey",
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("emb_a"),
        F.col("nsq").alias("nsq_a"),
    )
    b = keyed.select(
        "cell", "subkey",
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("emb_b"),
        F.col("nsq").alias("nsq_b"),
    )
    cosine = V.cosine_from_scaled(
        dot_pd(F.col("emb_a"), F.col("emb_b")), F.col("nsq_a"), F.col("nsq_b")
    )
    dpairs = (
        a.join(b, ["cell", "subkey"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= DENS_COS)
        .select("a", "b")
    )
    return dbscan_roles_from_pairs(emb.select("vec_id"), dpairs, DENS_MINPTS)


def dbscan_roles_from_pairs(
    ids: DataFrame, dpairs: DataFrame, minpts: int
) -> DataFrame:
    """The DBSCAN role/labeling core of ``density_core_clusters`` over an
    undirected neighbor-pair frame ``(a, b)`` with ``a < b`` and an id
    universe ``ids(vec_id)`` — module-level so the degree/core/
    component/border algebra is directly property-testable against a
    scalar BFS reference (``tests/test_r6_property.py``)."""
    # The component loop's per-round truncation and convergence check
    # live in functions/iterate.py (``iterate``); ``sym`` is truncated
    # once here because the degrees, core edges and border join all
    # read it.
    sym = dpairs.unionByName(
        dpairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()
    deg = (
        sym.groupBy("a")
        .agg(F.count("*").alias("degree"))
        .withColumnRenamed("a", "vec_id")
        .localCheckpoint()
    )
    core = deg.filter(F.col("degree") >= minpts).select("vec_id")
    cedges = (
        sym.join(core.withColumnRenamed("vec_id", "a"), "a")
        .join(core.withColumnRenamed("vec_id", "b"), "b")
        .select("a", "b")
        .localCheckpoint()
    )
    labels = min_label_propagate(
        cedges,
        core.select(F.col("vec_id").alias("v"), F.col("vec_id").alias("label")),
        max_rounds=32,  # diameter bound; dense clusters are shallow
        err=(
            "density_core_clusters: label propagation did not converge "
            "within the 32-round diameter bound plus one confirming "
            "round (core-graph diameter > 32?)"
        ),
    )
    clab = labels.select(F.col("v").alias("vec_id"), F.col("label").alias("cluster_id"))
    border = (
        sym.join(clab.withColumnRenamed("vec_id", "b"), "b")
        .join(core.withColumnRenamed("vec_id", "a"), "a", "left_anti")
        .groupBy(F.col("a").alias("vec_id"))
        .agg(F.min("cluster_id").alias("b_cluster"))
    )
    return (
        ids
        .join(deg, "vec_id", "left")
        .join(clab.withColumnRenamed("cluster_id", "c_cluster"), "vec_id", "left")
        .join(border, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("degree"), F.lit(0)).cast("bigint").alias("degree"),
            F.when(F.col("c_cluster").isNotNull(), F.lit("core"))
            .when(F.col("b_cluster").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce(F.col("c_cluster"), F.col("b_cluster")).alias("cluster_id"),
        )
        .orderBy("vec_id")
    )


# --- retrieval evaluation (system-vs-truth metrics) -----------------------

from bigdata_2025_1_spark.registry import ORACLES as _ORACLES  # noqa: E402


def retrieval_rankings(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared truth/system rankings for the retrieval-eval family
    (``retrieval_mrr_eval``, ``ndcg_retrieval_eval``): returns
    ``(exact, system)`` where exact is ``ann_topk_cosine``'s
    (query_id, neighbor_id, rank) and system is ``ann_ivf_topk``'s with
    rank aliased ``rank_s`` (probe-bounded: n_probes x k rows).

    Both frames are plain. Each eval reads them several times and
    checkpoints them; ``retrieval_eval_suite`` shares them across its
    two legs, so it builds each index once."""
    exact = ann_topk_cosine(spark, sf_dir).select("query_id", "neighbor_id", "rank")
    system = ann_ivf_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("rank").alias("rank_s")
    )
    return exact, system


@query(
    "retrieval_mrr_eval",
    oracle=f"""
    WITH exact_res AS (
      SELECT * FROM ({_ORACLES["ann_topk_cosine"]})
    ), sys_res AS (
      SELECT * FROM ({_ORACLES["ann_ivf_topk"]})
    ), nq AS (
      SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries FROM exact_res
    ), hits AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM exact_res e JOIN sys_res s
        ON s.query_id = e.query_id AND s.neighbor_id = e.neighbor_id
    ), rr AS (
      SELECT CAST(COALESCE(SUM(COALESCE(60 // s.rank, 0)), 0) AS BIGINT) AS rr60
      FROM exact_res e LEFT JOIN sys_res s
        ON s.query_id = e.query_id AND s.neighbor_id = e.neighbor_id
      WHERE e.rank = 1
    )
    SELECT nq.n_queries, hits.n_hits,
           CASE WHEN nq.n_queries = 0 THEN NULL
                ELSE hits.n_hits::DOUBLE / (nq.n_queries * {TOP_K}) END AS recall_at_k,
           CASE WHEN nq.n_queries = 0 THEN NULL
                ELSE rr.rr60::DOUBLE / nq.n_queries / 60 END AS mrr
    FROM nq CROSS JOIN hits CROSS JOIN rr
    """,
)
def retrieval_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation of the IVF index against exact
    truth, in one query: recall@{TOP_K} (how much of the true top-k the
    index returns) and MRR (the reciprocal of where the TRUE nearest
    neighbor lands in the index's ranking, 0 when missed) over the
    shared probe set — the metric pair an ANN deployment gates on
    before swapping brute force for the index.

    Determinism: both ranked lists are the REGISTERED queries
    (``ann_topk_cosine``, ``ann_ivf_topk``) and their oracles verbatim
    (composed as subqueries, so the eval can never drift from what the
    correctness gate checks); reciprocal ranks are summed as INTEGER
    sixtieths (60/rank for rank <= {TOP_K} — lcm(1..5) clears every
    denominator), one double chain at the end.

    Scale shape: two candidate-bounded rankings (brute force is
    probe-bounded, IVF is cell-pruned) built ONCE from the shared
    ``retrieval_rankings`` helper and checkpointed, two equi-joins on
    (query, neighbor), three scalar aggregates broadcast into one row."""
    exact, system = (df.localCheckpoint() for df in retrieval_rankings(spark, sf_dir))
    nq = exact.agg(F.count_distinct("query_id").alias("n_queries"))
    hits = exact.join(system, ["query_id", "neighbor_id"]).agg(
        F.count("*").alias("n_hits")
    )
    rr = (
        exact.filter(F.col("rank") == 1)
        .join(system, ["query_id", "neighbor_id"], "left")
        .agg(
            F.coalesce(
                F.sum(F.coalesce(F.expr("60 div rank_s"), F.lit(0))), F.lit(0)
            )
            .cast("bigint")
            .alias("rr60")
        )
    )
    return (
        nq.crossJoin(F.broadcast(hits))
        .crossJoin(F.broadcast(rr))
        .select(
            "n_queries",
            "n_hits",
            F.when(F.col("n_queries") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.col("n_hits").cast("double") / (F.col("n_queries") * TOP_K)
            )
            .alias("recall_at_k"),
            F.when(F.col("n_queries") == 0, F.lit(None).cast("double"))
            .otherwise(F.col("rr60").cast("double") / F.col("n_queries") / 60)
            .alias("mrr"),
        )
    )


N_EVAL_VECS = 100  # vec_id < this = the held-out "benchmark" set


@query(
    "semantic_decontamination",
    oracle=f"""
    WITH {_SEM_KEYED_SQL}, cand AS (
      SELECT e.vec_id AS eval_id,
             {V.sql_dot_scaled('e.embedding', 't.embedding', _DIM)}::DOUBLE
               / (sqrt(e.nsq::DOUBLE) * sqrt(t.nsq::DOUBLE)) AS cosine
      FROM keyed e JOIN keyed t
        ON e.cell = t.cell AND e.subkey = t.subkey
       AND e.vec_id < {N_EVAL_VECS} AND t.vec_id >= {N_EVAL_VECS}
    ), agg AS (
      SELECT eval_id, CAST(COUNT(*) AS BIGINT) AS n_candidates,
             MAX(cosine) AS max_cosine
      FROM cand GROUP BY eval_id
    )
    SELECT k.vec_id AS eval_id,
           COALESCE(a.n_candidates, 0) AS n_candidates,
           a.max_cosine,
           COALESCE(a.max_cosine >= {NEAR_DUP_COS}, FALSE) AS contaminated
    FROM keyed k LEFT JOIN agg a ON a.eval_id = k.vec_id
    WHERE k.vec_id < {N_EVAL_VECS}
    ORDER BY eval_id
    """,
)
def semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC train-eval leakage audit — the embedding-space
    counterpart of ``benchmark_decontamination``'s n-gram overlap scan
    (paraphrased leaks share no 8-gram but sit next to each other in
    embedding space): treat vec_id < {N_EVAL_VECS} as the held-out
    benchmark and the rest as training data, and for every eval item
    report the nearest training cosine WITHIN the SemDeDup two-level
    cell key plus the >= {NEAR_DUP_COS} contamination verdict.

    Determinism: the quantizer and cosine are the exact int64 machinery
    shared with ``semantic_dedup_pairs``; MAX over identical doubles is
    order-free; eval items with no in-cell training neighbor report
    zero candidates and a FALSE verdict via identical COALESCEs.

    Scale shape: the eval x train pairing inherits the (cell, subkey)
    equi-join — cost is eval-side-bounded (the benchmark is tiny; the
    100 TB corpus contributes only same-cell candidates), exactly the
    incremental-LSH asymmetry in embedding space; the per-eval reduce
    is a max/count aggregate."""
    emb = load(spark, sf_dir, "embeddings")
    keyed = semdedup_keyed_assignment(emb, SEM_CELL_CAP)
    dot_pd = V.make_dot_scaled_pandas()
    ev = keyed.filter(F.col("vec_id") < N_EVAL_VECS).select(
        "cell",
        "subkey",
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").alias("emb_e"),
        F.col("nsq").alias("nsq_e"),
    )
    tr = keyed.filter(F.col("vec_id") >= N_EVAL_VECS).select(
        "cell",
        "subkey",
        F.col("embedding").alias("emb_t"),
        F.col("nsq").alias("nsq_t"),
    )
    cosine = V.cosine_from_scaled(
        dot_pd(F.col("emb_e"), F.col("emb_t")), F.col("nsq_e"), F.col("nsq_t")
    )
    agg = (
        ev.join(tr, ["cell", "subkey"])
        .select("eval_id", cosine.alias("cosine"))
        .groupBy("eval_id")
        .agg(
            F.count("*").alias("n_candidates"), F.max("cosine").alias("max_cosine")
        )
    )
    return (
        keyed.filter(F.col("vec_id") < N_EVAL_VECS)
        .select(F.col("vec_id").alias("eval_id"))
        .join(agg, "eval_id", "left")
        .select(
            "eval_id",
            F.coalesce(F.col("n_candidates"), F.lit(0)).cast("bigint").alias(
                "n_candidates"
            ),
            "max_cosine",
            F.coalesce(
                F.col("max_cosine") >= NEAR_DUP_COS, F.lit(False)
            ).alias("contaminated"),
        )
        .orderBy("eval_id")
    )


# Integer-scaled DCG gain table: G_i = round(1e12 / log2(i + 1)) for
# rank i = 1..TOP_K, computed ONCE here and embedded as literals in
# both engines — log2 never runs engine-side, so DCG sums are exact
# integers and the only double op is the final division.
import math as _math  # noqa: E402

DCG_GAINS_I12 = tuple(
    round(1e12 / _math.log2(i + 1)) for i in range(1, TOP_K + 1)
)
IDCG_I12 = sum(DCG_GAINS_I12)


@query(
    "ndcg_retrieval_eval",
    oracle=f"""
    WITH exact_res AS (
      SELECT * FROM ({_ORACLES["ann_topk_cosine"]})
    ), sys_res AS (
      SELECT * FROM ({_ORACLES["ann_ivf_topk"]})
    ), nq AS (
      SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries FROM exact_res
    ), perq AS (
      SELECT e.query_id,
             CAST(SUM(([{", ".join(str(g) for g in DCG_GAINS_I12)}])[s.rank])
                  AS BIGINT) AS dcg12
      FROM exact_res e JOIN sys_res s
        ON s.query_id = e.query_id AND s.neighbor_id = e.neighbor_id
      GROUP BY e.query_id
    ), tot AS (
      SELECT CAST(COALESCE(SUM(dcg12), 0) AS BIGINT) AS sum_dcg12,
             CAST(COALESCE(SUM(CASE WHEN dcg12 = {IDCG_I12} THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_perfect
      FROM perq
    )
    SELECT nq.n_queries, tot.n_perfect,
           CASE WHEN nq.n_queries > 0
                THEN tot.sum_dcg12::DOUBLE / (nq.n_queries * {IDCG_I12})
           END AS mean_ndcg_at_k
    FROM nq CROSS JOIN tot
    """,
)
def ndcg_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@{TOP_K} of the IVF index against exact truth — the
    position-weighted companion of ``retrieval_mrr_eval``: recall says
    WHETHER the true neighbors surface, MRR where the single best one
    lands, nDCG how well the WHOLE returned ranking orders all of them
    (a true neighbor at system rank 1 is worth 1/log2(2), at rank 5
    only 1/log2(6)). Binary relevance, truth = the exact top-{TOP_K};
    IDCG is the full-k constant (the fixture corpus always yields k
    true neighbors per probe; a corpus smaller than k would need the
    per-query prefix IDCG, stated). Reports the query count, how many
    queries ranked perfectly, and the mean nDCG.

    Determinism: both rankings are the REGISTERED queries and their
    oracles verbatim (the retrieval_mrr_eval convention); the gain
    table 1/log2(rank+1) is precomputed in Python to integer 1e-12ths
    and embedded as LITERALS in both engines, so log2 never runs
    engine-side — per-query DCG and the perfect-ranking comparison are
    exact integers, mean nDCG is ONE double division (numerator and
    denominator both < 2^53).

    Scale shape: inherits the candidate-bounded rankings, built ONCE
    from the shared ``retrieval_rankings`` helper and checkpointed; one
    (query, neighbor) equi-join, one query-keyed map-side-combinable
    sum, scalar assembly broadcast."""
    exact, system = retrieval_rankings(spark, sf_dir)
    exact = exact.select("query_id", "neighbor_id").localCheckpoint()
    gains = F.array(*[F.lit(g) for g in DCG_GAINS_I12])
    nq = exact.agg(F.count_distinct("query_id").alias("n_queries"))
    perq = (
        exact.join(system, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(
            F.sum(F.element_at(gains, F.col("rank_s").cast("int")))
            .cast("bigint")
            .alias("dcg12")
        )
    )
    tot = perq.agg(
        F.coalesce(F.sum("dcg12"), F.lit(0)).cast("bigint").alias("sum_dcg12"),
        F.coalesce(
            F.sum((F.col("dcg12") == IDCG_I12).cast("int")), F.lit(0)
        )
        .cast("bigint")
        .alias("n_perfect"),
    )
    return nq.crossJoin(F.broadcast(tot)).select(
        "n_queries",
        "n_perfect",
        F.when(
            F.col("n_queries") > 0,
            F.col("sum_dcg12").cast("double")
            / (F.col("n_queries") * IDCG_I12),
        ).alias("mean_ndcg_at_k"),
    )


from bigdata_2025_1_spark.functions.hashing import md5_int, sql_md5_int  # noqa: E402


@query(
    "embedding_similarity_histogram",
    oracle=f"""
    WITH nn AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings
    ), pick AS (
      SELECT a.vec_id AS i,
             {sql_md5_int("CAST(a.vec_id AS VARCHAR)")} % nn.n AS j
      FROM embeddings a CROSS JOIN nn
    ), prs AS (
      SELECT p.i, p.j,
             {V.sql_dot_scaled('a.embedding', 'b.embedding', _DIM)} AS dot_s,
             {V.sql_dot_scaled('a.embedding', 'a.embedding', _DIM)} AS na_s,
             {V.sql_dot_scaled('b.embedding', 'b.embedding', _DIM)} AS nb_s
      FROM pick p
      JOIN embeddings a ON a.vec_id = p.i
      JOIN embeddings b ON b.vec_id = p.j
      WHERE p.j <> p.i
    ), scored AS (
      SELECT CAST(FLOOR(10 * (dot_s::DOUBLE / (sqrt(na_s::DOUBLE) * sqrt(nb_s::DOUBLE))))
                  AS BIGINT) AS band
      FROM prs WHERE na_s > 0 AND nb_s > 0
    )
    SELECT band, band / 10.0 AS band_lo,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM scored GROUP BY band ORDER BY band
    """,
)
def embedding_similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Background-similarity calibration: the cosine distribution of
    (near-)random vector pairs, histogrammed in 0.1 bands — the curve
    every near-dup/ANN threshold is read against (a 0.8 cutoff means
    nothing until you know random pairs sit at 0.1 ± 0.2; SemDeDup-
    style dedup picks its epsilon exactly this way). Pairing is a
    deterministic hash derangement: vector i partners with
    md5(i) mod N, self-hits dropped — pseudo-random structure with
    zero RNG state, reproducible across engines and runs.

    CONTRACT: the partner key assumes CONTIGUOUS 0-based vec_ids
    (0..N-1), which the embeddings table guarantees. On a sparse or
    1-based id space a computed j with no matching vec_id is dropped
    by the inner join — identically in both engines, so oracle parity
    still holds, but coverage silently shrinks below "N pairs for N
    vectors". To lift the assumption, derive the partner from a
    row_number-based dense index over vec_id instead of vec_id itself
    (one extra bounded window over the vector table).

    Determinism: the partner id is the shared md5-prefix integer; dot
    products and norms are exactly-rounded int64 picos (the vectors
    contract); each cosine is one fixed IEEE chain and banding is a
    single FLOOR — the histogram is then pure integer counts.

    Scale shape: ONE equi-join of the table against itself on the
    COMPUTED partner key (hash-shuffle, no windows, no all-pairs — N
    pairs for N vectors); the dot products are per-row JVM
    higher-order expressions; the band histogram is map-side
    combinable. At billions of vectors the identical plan holds — the
    pair count stays linear in N."""
    emb = spread(load(spark, sf_dir, "embeddings"))
    nn = emb.agg(F.count("*").cast("bigint").alias("n"))
    pick = emb.crossJoin(F.broadcast(nn)).select(
        F.col("vec_id").alias("i"),
        (md5_int(F.col("vec_id").cast("string")) % F.col("n")).alias("j"),
    )
    a = emb.select(F.col("vec_id").alias("i"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("j"), F.col("embedding").alias("eb"))
    prs = (
        pick.filter(F.col("j") != F.col("i"))
        .join(a, "i")
        .join(b, "j")
        .select(
            V.dot_scaled(F.col("ea"), F.col("eb")).alias("dot_s"),
            V.norm_sq_scaled(F.col("ea")).alias("na_s"),
            V.norm_sq_scaled(F.col("eb")).alias("nb_s"),
        )
    )
    scored = prs.filter((F.col("na_s") > 0) & (F.col("nb_s") > 0)).select(
        F.floor(
            10
            * V.cosine_from_scaled(
                F.col("dot_s"), F.col("na_s"), F.col("nb_s")
            )
        )
        .cast("bigint")
        .alias("band")
    )
    return (
        scored.groupBy("band")
        .agg(F.count("*").alias("n_pairs"))
        .select("band", (F.col("band") / 10.0).alias("band_lo"), "n_pairs")
        .orderBy("band")
    )


# --- HDBSCAN-lite: mutual-reachability density linkage at eps levels ------

HDB_K = 3  # core distance = distance to the HDB_K-th in-cell neighbor
HDB_EPS = (0.8, 0.85)  # cosine-DISTANCE levels (d = 1 - cosine), eps1 < eps2
# — two slices of the HDBSCAN hierarchy: eps1 clusters nest inside eps2's


def hdbscan_lite_from_pairs(
    ids: DataFrame, dpairs: DataFrame, k: int, eps_levels: tuple[float, ...]
) -> DataFrame:
    """The HDBSCAN-lite algebra over an undirected candidate-pair frame
    ``dpairs(a, b, d)`` with ``a < b`` and an id universe
    ``ids(vec_id)`` — module-level (the ``dbscan_roles_from_pairs``
    convention) so the core-distance / mutual-reachability / component
    logic is directly property-testable against a scalar BFS reference
    independent of how candidates were generated.

    Semantics (Campello et al. 2013, the fixed-level slice a.k.a.
    DBSCAN*): core_dist(p) = d to p's k-th nearest candidate (undefined
    -> never core); d_mr(a,b) = max(d, core_a, core_b); at each eps
    level, points with core_dist <= eps are cores and clusters are
    connected components of the d_mr <= eps core graph (no border
    class — the * variant). d_mr <= eps already implies both endpoints
    are cores at that level, so one edge filter does all the gating.
    Returns one row per (eps, vec_id): core_dist, is_core, cluster_id
    (NULL = noise at that level; eps1's clusters provably nest inside
    eps2's — the hierarchy property tests/test_hdbscan_lite.py pins).

    Determinism: d values are one IEEE chain from exact int64
    dots/norms; the k-th order statistic of a value multiset is
    tie-permutation-free (row_number orders by (d, b) anyway); max and
    the eps comparisons are order-free; component ids MIN-total-ordered.

    Scale shape: the pair frame is checkpointed at its collapse point
    (cell-bounded candidates); core distances are
    one bounded window per candidate list; each level's components run
    ``min_label_propagate`` (functions/iterate.py) on the filtered core
    graph, the dbscan/dedup_cc loop with the same diameter bound."""
    dpairs = dpairs.localCheckpoint()
    sym = dpairs.unionByName(
        dpairs.select(F.col("b").alias("a"), F.col("a").alias("b"), "d")
    )
    wk = Window.partitionBy("a").orderBy("d", "b")
    kth = (
        sym.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") == k)
        .select(F.col("a").alias("vec_id"), F.col("d").alias("core_dist"))
        .localCheckpoint()
    )
    mr = (
        dpairs.join(
            kth.select(
                F.col("vec_id").alias("a"), F.col("core_dist").alias("ca")
            ),
            "a",
        )
        .join(
            kth.select(
                F.col("vec_id").alias("b"), F.col("core_dist").alias("cb")
            ),
            "b",
        )
        .select(
            "a", "b", F.greatest("d", "ca", "cb").alias("dmr")
        )
        .localCheckpoint()
    )
    out = None
    prev_labels = None
    prev_eps = None
    for eps in eps_levels:
        el = mr.filter(F.col("dmr") <= eps).select("a", "b")
        edges = el.unionByName(
            el.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).localCheckpoint()
        cores = kth.filter(F.col("core_dist") <= eps).select(
            F.col("vec_id").alias("v")
        )
        if prev_labels is not None and prev_eps is not None and prev_eps <= eps:
            # VERDICT r10 ask #3, strengthened: CONTRACT this level's
            # core graph by the previous (tighter) level's converged
            # components and propagate over SUPERNODES. Valid because
            # with eps_prev <= eps (a) every eps_prev core is an eps
            # core and every eps_prev edge is an eps edge, so each
            # eps_prev cluster is internally connected in this level's
            # core graph (contraction preserves components), and (b)
            # supernode ids are min-of-cluster vec_ids, so the minimum
            # over a contracted component equals the component's min
            # vec_id (for the minimum node m, its supernode id is m:
            # the cluster's members all sit in the component, none
            # smaller). Label-only seeding is NOT enough — min-label
            # propagation still walks one NODE per round, so a seeded
            # frontier advances exactly as slowly through new links;
            # contraction shortens the walk itself to the contracted
            # diameter (measured: 32 -> 17 rounds on a 32-node chain of
            # 16 pair-clusters; real-fixture numbers in the notes of
            # `git show 6f8e198:bench.py`).
            node_sn = (
                cores.join(prev_labels, "v", "left")
                .select("v", F.coalesce(F.col("label"), F.col("v")).alias("sn"))
                .localCheckpoint()
            )
            prop_edges = (
                edges.join(
                    node_sn.select(F.col("v").alias("a"), F.col("sn").alias("sa")),
                    "a",
                )
                .join(
                    node_sn.select(F.col("v").alias("b"), F.col("sn").alias("sb")),
                    "b",
                )
                .filter(F.col("sa") != F.col("sb"))
                .select(F.col("sa").alias("a"), F.col("sb").alias("b"))
                .distinct()
                .localCheckpoint()
            )
            prop_labels = (
                node_sn.select(F.col("sn").alias("v"))
                .distinct()
                .select("v", F.col("v").alias("label"))
                .localCheckpoint()
            )
        else:
            node_sn = None
            prop_edges = edges
            prop_labels = cores.select(
                "v", F.col("v").alias("label")
            ).localCheckpoint()
        labels = min_label_propagate(
            prop_edges,
            prop_labels,
            max_rounds=32,  # diameter bound; dense clusters are shallow
            err=(
                "hdbscan_lite_from_pairs: label propagation did not "
                "converge within the 32-round diameter bound plus one "
                "confirming round (core-graph diameter > 32?)"
            ),
        )
        if node_sn is not None:
            # expand supernode labels back to nodes
            labels = (
                node_sn.join(
                    labels.select(F.col("v").alias("sn"), "label"), "sn"
                )
                .select("v", "label")
                .localCheckpoint()
            )
        prev_labels, prev_eps = labels, eps
        lab = labels.select(
            F.col("v").alias("vec_id"), F.col("label").alias("cluster_id")
        )
        level = (
            ids.join(kth, "vec_id", "left")
            .join(lab, "vec_id", "left")
            .select(
                F.lit(float(eps)).alias("eps"),
                "vec_id",
                "core_dist",
                F.coalesce(F.col("core_dist") <= eps, F.lit(False)).alias(
                    "is_core"
                ),
                "cluster_id",
            )
        )
        out = level if out is None else out.unionByName(level)
    return out.orderBy("eps", "vec_id")


def _hdb_oracle() -> str:
    eps1, eps2 = HDB_EPS
    lvl = lambda i, eps: f"""core{i} AS MATERIALIZED (
      SELECT vec_id FROM kth WHERE core_dist <= {eps}
    ), e{i} AS MATERIALIZED (
      SELECT a, b FROM mr WHERE dmr <= {eps}
      UNION ALL
      SELECT b AS a, a AS b FROM mr WHERE dmr <= {eps}
    ), reach{i}(v, label) AS (
      SELECT vec_id, vec_id FROM core{i}
      UNION
      SELECT e.b, r.label FROM reach{i} r JOIN e{i} e ON e.a = r.v
      WHERE r.label < e.b
    ), lab{i} AS MATERIALIZED (
      SELECT v AS vec_id, MIN(label) AS cluster_id FROM reach{i} GROUP BY v
    )"""
    sel = lambda i, eps: f"""
    SELECT CAST({eps} AS DOUBLE) AS eps, e.vec_id, k.core_dist,
           COALESCE(k.core_dist <= {eps}, FALSE) AS is_core, l.cluster_id
    FROM embeddings e
    LEFT JOIN kth k USING (vec_id)
    LEFT JOIN lab{i} l ON l.vec_id = e.vec_id"""
    return f"""
    WITH RECURSIVE {_SEM_KEYED_SQL}, dpairs AS MATERIALIZED (
      SELECT a.vec_id AS a, b.vec_id AS b,
             1 - ({V.sql_dot_scaled('a.embedding', 'b.embedding', _DIM)}::DOUBLE
                  / (sqrt(a.nsq::DOUBLE) * sqrt(b.nsq::DOUBLE))) AS d
      FROM keyed a JOIN keyed b
        ON a.cell = b.cell AND a.subkey = b.subkey AND a.vec_id < b.vec_id
      WHERE a.nsq > 0 AND b.nsq > 0
    ), sym AS MATERIALIZED (
      SELECT a, b, d FROM dpairs UNION ALL SELECT b AS a, a AS b, d FROM dpairs
    ), kth AS MATERIALIZED (
      SELECT a AS vec_id, d AS core_dist
      FROM (SELECT a, d, ROW_NUMBER() OVER (PARTITION BY a ORDER BY d, b) AS rn
            FROM sym)
      WHERE rn = {HDB_K}
    ), mr AS MATERIALIZED (
      SELECT p.a, p.b, GREATEST(p.d, ka.core_dist, kb.core_dist) AS dmr
      FROM dpairs p
      JOIN kth ka ON ka.vec_id = p.a
      JOIN kth kb ON kb.vec_id = p.b
    ), {lvl(1, eps1)}, {lvl(2, eps2)}
    {sel(1, eps1)}
    UNION ALL
    {sel(2, eps2)}
    ORDER BY eps, vec_id
    """


@query("hdbscan_lite_clusters", oracle=_hdb_oracle())
def hdbscan_lite_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDBSCAN-lite over the embedding space: density linkage through
    MUTUAL-REACHABILITY distance (Campello et al. 2013) evaluated at
    {HDB_EPS} — the density-clustering upgrade over
    ``density_core_clusters``' plain DBSCAN: core distance (d to the
    {HDB_K}-th neighbor) replaces the fixed-radius core rule, so sparse
    regions need proportionally tighter mutual agreement before linking
    (the chaining-through-noise failure DBSCAN suffers), and the two
    eps slices expose the cluster HIERARCHY (every eps1 cluster nests
    inside an eps2 cluster — pinned by test). Candidates come from the
    SemDeDup two-level cell key (``semdedup_keyed_assignment``), the
    same quantizer bound every density/dedup family shares; cross-cell
    neighbors are the documented recall trade.

    Determinism: d is one IEEE chain from exact int64 dots/norms; the
    k-th order statistic is tie-permutation-free; GREATEST and the eps
    comparisons are order-free; component ids MIN-total-ordered; the
    oracle runs the identical algebra with per-level recursive CTEs.
    Points with < {HDB_K} candidates have no core distance and are
    noise at every level via identical LEFT-JOIN/COALESCE guards.

    Scale shape: pair generation inherits the cell equi-join; the
    algebra (``hdbscan_lite_from_pairs``) checkpoints the cell-bounded
    pair list once, computes core distances in one bounded window, and
    runs each level's components on the filtered core graph through
    ``min_label_propagate`` — never all-pairs, never a fact-sized
    window."""
    emb = load(spark, sf_dir, "embeddings")
    keyed = semdedup_keyed_assignment(emb, SEM_CELL_CAP)
    dot_pd = V.make_dot_scaled_pandas()
    a = keyed.select(
        "cell", "subkey",
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("emb_a"),
        F.col("nsq").alias("nsq_a"),
    )
    b = keyed.select(
        "cell", "subkey",
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("emb_b"),
        F.col("nsq").alias("nsq_b"),
    )
    cosine = V.cosine_from_scaled(
        dot_pd(F.col("emb_a"), F.col("emb_b")), F.col("nsq_a"), F.col("nsq_b")
    )
    dpairs = (
        a.join(b, ["cell", "subkey"])
        .filter(
            (F.col("a") < F.col("b"))
            & (F.col("nsq_a") > 0)
            & (F.col("nsq_b") > 0)
        )
        .select("a", "b", (F.lit(1.0) - cosine).alias("d"))
    )
    return hdbscan_lite_from_pairs(
        emb.select("vec_id"), dpairs, HDB_K, HDB_EPS
    )


# Index-acceptance thresholds — shared literals; the fixture's IVF index
# passes all three (the accept branch; corpus_release_gate exercises the
# deny branch of a composed gate).
SUITE_MIN_RECALL = "0.6"
SUITE_MIN_MRR = "0.6"
SUITE_MIN_NDCG = "0.6"


@query(
    "retrieval_eval_suite",
    oracle=f"""
    WITH mrr AS (
      SELECT * FROM ({_ORACLES["retrieval_mrr_eval"]})
    ), ndcg AS (
      SELECT * FROM ({_ORACLES["ndcg_retrieval_eval"]})
    )
    SELECT m.n_queries, m.n_hits, m.recall_at_k, m.mrr,
           n.n_perfect, n.mean_ndcg_at_k,
           (m.recall_at_k >= {SUITE_MIN_RECALL}
            AND m.mrr >= {SUITE_MIN_MRR}
            AND n.mean_ndcg_at_k >= {SUITE_MIN_NDCG}) AS index_ok
    FROM mrr m CROSS JOIN ndcg n
    """,
)
def retrieval_eval_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN index ACCEPTANCE ROW — the similarity-family capstone:
    run the whole retrieval-eval suite (recall@{TOP_K} + MRR from
    ``retrieval_mrr_eval``, nDCG@{TOP_K} from ``ndcg_retrieval_eval``)
    in ONE session and emit the single go/no-go row a deployment gates
    an index swap on (index_ok = recall >= {SUITE_MIN_RECALL} AND mrr
    >= {SUITE_MIN_MRR} AND nDCG >= {SUITE_MIN_NDCG}, shared literals).

    The two evals are the legs of one ``release_gate``, which shares the
    exact and IVF rankings (``retrieval_rankings``) across them, so the
    suite builds each index once. Sub-scalars are reconciled against
    the standalone queries by tests/test_release_gate.py.

    Determinism: inherits both evals' integer-exact contracts (integer
    sixtieths, integer 1e-12 gain literals); the gate comparisons are
    pinned double-vs-literal; an empty probe set yields NULL metrics
    and a NULL (no-decision) verdict via identical three-valued logic.

    Scale shape: candidate-bounded rankings built once, two equi-joins,
    scalar assembly broadcast — the suite costs ONE index build plus
    joins, not 2x."""
    return release_gate(
        [
            lambda: retrieval_mrr_eval(spark, sf_dir),
            lambda: ndcg_retrieval_eval(spark, sf_dir).select(
                "n_perfect", "mean_ndcg_at_k"
            ),
        ],
        out=["n_queries", "n_hits", "recall_at_k", "mrr", "n_perfect", "mean_ndcg_at_k"],
        verdicts={
            "index_ok": (F.col("recall_at_k") >= float(SUITE_MIN_RECALL))
            & (F.col("mrr") >= float(SUITE_MIN_MRR))
            & (F.col("mean_ndcg_at_k") >= float(SUITE_MIN_NDCG))
        },
        ok="index_ok",
        shared=retrieval_rankings(spark, sf_dir),
    )


# --- IVF index ingest / maintenance ----------------------------------------

IVF_SPLIT_FACTOR = 3  # a cell holding >3x its ideal share needs a re-split
# (the semantic_dedup_pairs sub-quantizer is the re-split mechanism; this
# is the monitoring row that decides WHEN to apply it)


def _corpus_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's coarse-quantizer assignment, (vec_id, cell), in one
    Arrow pass: the shared leg of the index-maintenance family.
    ``ivf_nprobe_recall_curve`` reads it twice (cell sizes and the truth
    join) and checkpoints it; ``ann_release_gate``, which composes the
    curve and the census, shares it so the Arrow pass runs once. The
    single-read census (``ivf_ingest_assign`` standalone) reads it
    plain: a materialization cost it a third of its wall with no
    reuse."""
    emb = load(spark, sf_dir, "embeddings")
    cell_pd = V.make_ivf_cell_pandas(_CENTROIDS)
    return emb.select(
        "vec_id", cell_pd(F.col("embedding")).getField("cell").alias("cell")
    )


@query(
    "ivf_ingest_assign",
    oracle=f"""
    WITH se AS MATERIALIZED (
      SELECT vec_id, {V.sql_scaled_e9('embedding', _DIM)} AS se
      FROM embeddings
    ), proj AS (
      SELECT vec_id, {V.sql_ivf_projs_from('se', _CENTROIDS)} AS projs
      FROM se
    ), assigned AS (
      SELECT vec_id,
             CAST(list_position(projs, list_max(projs)) - 1 AS INT) AS cell
      FROM proj
    ), per_cell AS (
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
             CAST(MIN(vec_id) AS BIGINT) AS first_vec,
             CAST(MAX(vec_id) AS BIGINT) AS last_vec
      FROM assigned GROUP BY cell
    ), tot AS (
      SELECT CAST(SUM(n_vecs) AS BIGINT) AS total FROM per_cell
    )
    SELECT cell, n_vecs, first_vec, last_vec,
           (n_vecs * {N_CELLS})::DOUBLE / total AS fill_ratio,
           n_vecs * {N_CELLS} > {IVF_SPLIT_FACTOR} * total AS needs_split
    FROM per_cell CROSS JOIN tot
    ORDER BY cell
    """,
)
def ivf_ingest_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-maintenance readout after an arrival-ordered vector
    ingest — the ANN analogue of ``dedup_lsh_arrival_log``: vectors
    arrive in vec_id order and are filed into their coarse-quantizer
    cell (the SAME deterministic 32-direction argmax ``ann_ivf_topk``
    queries against, so this monitors exactly the index that serves);
    the row per occupied cell is the health signal a nightly index
    maintenance job reads:

    - n_vecs / first_vec / last_vec — inverted-list size and arrival
      span (count/min/max: a semigroup, so per-trigger aggregates merge
      associatively — the streaming form below);
    - fill_ratio — n_vecs / ideal share (1.0 = perfectly balanced);
    - needs_split — n_vecs * {N_CELLS} > {IVF_SPLIT_FACTOR} * total,
      exact-integer comparison: the cell outgrew {IVF_SPLIT_FACTOR}x
      its share and its scan-time win is gone (the sub-quantizer
      re-split of ``semantic_dedup_pairs`` is the remedy).

    The pure-Python online twin is ``ivf_cells_update`` (per-trigger
    state transition, chunking-invariant by property test — the
    page_hinkley/cusum/lsh_index_update convention); ``ivf_ingest_step``
    is the per-trigger Spark path a foreachBatch maintenance loop
    accumulates (tests/test_ivf_ingest.py runs three triggers and pins
    the accumulated state against this batch replay).

    Determinism: cell = argmax of exact int64-scaled projections
    (first-max tie-break, mirrored by list_position); counts exact
    ints; fill_ratio one double division; needs_split integer-only.

    Scale shape: one Arrow-vectorized assignment pass (the shared
    ``_corpus_cells`` frame — not materialized here, the standalone
    census is a single collapse; inside ``ann_release_gate`` this
    subtree reads the gate's shared frame), map-side
    combinable groupBy(cell) to {N_CELLS} rows, broadcast 1-row total.
    Empty table -> empty result in both engines."""
    per_cell = (
        _corpus_cells(spark, sf_dir)
        .groupBy("cell")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.min("vec_id").cast("bigint").alias("first_vec"),
            F.max("vec_id").cast("bigint").alias("last_vec"),
        )
    )
    tot = per_cell.agg(F.sum("n_vecs").cast("bigint").alias("total"))
    return (
        per_cell.crossJoin(F.broadcast(tot))
        .select(
            "cell",
            "n_vecs",
            "first_vec",
            "last_vec",
            (
                (F.col("n_vecs") * N_CELLS).cast("double") / F.col("total")
            ).alias("fill_ratio"),
            (
                F.col("n_vecs") * N_CELLS
                > F.lit(IVF_SPLIT_FACTOR) * F.col("total")
            ).alias("needs_split"),
        )
        .orderBy("cell")
    )


def ivf_ingest_step(batch_emb: DataFrame) -> DataFrame:
    """ONE trigger of the IVF ingest: assign the batch's vectors to
    their cells and collapse to per-cell (cell, n_vecs, first_vec,
    last_vec) partial aggregates. count/min/max form a semigroup, so a
    foreachBatch maintenance loop merges these into its standing state
    with ``ivf_merge_cells`` and the accumulated state equals the batch
    replay (pinned in tests/test_ivf_ingest.py)."""
    cell_pd = V.make_ivf_cell_pandas(_CENTROIDS)
    return (
        batch_emb.select(
            "vec_id", cell_pd(F.col("embedding")).getField("cell").alias("cell")
        )
        .groupBy("cell")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.min("vec_id").cast("bigint").alias("first_vec"),
            F.max("vec_id").cast("bigint").alias("last_vec"),
        )
    )


def ivf_state_zero() -> dict:
    """Fresh empty per-cell state for the online twin: maps cell ->
    [n_vecs, first_vec, last_vec]. A factory, not a module constant —
    the state is mutable."""
    return {}


def _py_ivf_cell(emb: "list[float]") -> int:
    """Python twin of make_ivf_cell_pandas' assignment for ONE vector:
    exact int64-scaled projections onto the shared _CENTROIDS, argmax
    with first-max tie-break — bit-identical arithmetic (same float64
    scale-and-round, same int64 matmul)."""
    import numpy as np

    E9 = np.asarray(emb, dtype=np.float64) * 1e9
    S = (np.sign(E9) * np.floor(np.abs(E9) + 0.5)).astype(np.int64)
    C = np.array(_CENTROIDS, dtype=np.int64)
    return int(np.argmax(C @ S))


def ivf_cells_update(state: dict, vecs) -> dict:
    """Online IVF-index state transition — the STREAMING form of
    ``ivf_ingest_assign``'s arithmetic (the page_hinkley_update /
    cusum_update / lsh_index_update convention): ``vecs`` is the next
    run of ``(vec_id, embedding)`` rows in arrival order; each is
    assigned to its cell and the per-cell (count, min, max) state is
    advanced. MUTATES ``state`` in place and returns it. Chunking-
    invariant: any split of the arrival log into triggers yields the
    same final state (property-tested)."""
    for vec_id, emb in vecs:
        cell = _py_ivf_cell(emb)
        st = state.get(cell)
        if st is None:
            state[cell] = [1, vec_id, vec_id]
        else:
            st[0] += 1
            if vec_id < st[1]:
                st[1] = vec_id
            if vec_id > st[2]:
                st[2] = vec_id
    return state


def ivf_merge_cells(state: dict, step_rows) -> dict:
    """Merge ONE trigger's per-cell partial aggregates (rows of
    ``ivf_ingest_step``) into the standing state — the semigroup merge
    a foreachBatch maintenance loop runs. MUTATES ``state``."""
    for r in step_rows:
        cell, n, lo, hi = (
            (r["cell"], r["n_vecs"], r["first_vec"], r["last_vec"])
            if isinstance(r, dict)
            else (r.cell, r.n_vecs, r.first_vec, r.last_vec)
        )
        st = state.get(cell)
        if st is None:
            state[cell] = [n, lo, hi]
        else:
            st[0] += n
            if lo < st[1]:
                st[1] = lo
            if hi > st[2]:
                st[2] = hi
    return state


def ivf_cells_readout(state: dict) -> "list[tuple]":
    """Derive ``ivf_ingest_assign``'s rows from the online state:
    (cell, n_vecs, first_vec, last_vec, fill_ratio, needs_split) sorted
    by cell — byte-identical to the batch query (fill_ratio is the same
    single IEEE double division; needs_split the same exact-integer
    comparison)."""
    total = sum(v[0] for v in state.values())
    return [
        (
            cell,
            n,
            lo,
            hi,
            float(n * N_CELLS) / total,
            n * N_CELLS > IVF_SPLIT_FACTOR * total,
        )
        for cell, (n, lo, hi) in sorted(state.items())
    ]


# --- embedding-distribution drift (index re-train signal) -------------------

from bigdata_2025_1_spark.operators.text_analysis import KS_C05  # noqa: E402


@query(
    "embedding_norm_drift",
    oracle=f"""
    WITH se AS MATERIALIZED (
      SELECT vec_id, {_SQL_NORM} AS v FROM embeddings
    ), bounds AS (
      SELECT CAST(MAX(vec_id) AS BIGINT) AS max_id FROM se
    ), rows_ AS (
      SELECT v, CASE WHEN s.vec_id * 2 <= b.max_id THEN 1 ELSE 0 END AS is_a
      FROM se s CROSS JOIN bounds b
    ), hist AS (
      SELECT v, SUM(is_a) AS c1, COUNT(*) - SUM(is_a) AS c2
      FROM rows_ GROUP BY v
    ), nn AS (
      SELECT CAST(COALESCE(SUM(c1), 0) AS BIGINT) AS n1,
             CAST(COALESCE(SUM(c2), 0) AS BIGINT) AS n2
      FROM hist
    ), cum AS (
      SELECT SUM(c1) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
             SUM(c2) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2
      FROM hist
    ), dmax AS (
      SELECT CAST(COALESCE(MAX(ABS(CAST(f1 AS HUGEINT) * nn.n2
                                   - CAST(f2 AS HUGEINT) * nn.n1)), 0)
                  AS BIGINT) AS d_num
      FROM cum CROSS JOIN nn
    )
    SELECT nn.n1 AS n_old, nn.n2 AS n_new, dmax.d_num,
           CASE WHEN nn.n1 > 0 AND nn.n2 > 0
                THEN dmax.d_num::DOUBLE / (nn.n1::DOUBLE * nn.n2)
           END AS d_stat,
           CASE WHEN nn.n1 > 0 AND nn.n2 > 0
                THEN ROUND(dmax.d_num::DOUBLE / (nn.n1::DOUBLE * nn.n2)
                     * sqrt(nn.n1::DOUBLE * nn.n2 / (nn.n1 + nn.n2)), 9)
           END AS ks_lambda,
           CASE WHEN nn.n1 > 0 AND nn.n2 > 0
                THEN dmax.d_num::DOUBLE / (nn.n1::DOUBLE * nn.n2)
                     > {KS_C05} * sqrt((nn.n1 + nn.n2)::DOUBLE
                                       / (nn.n1::DOUBLE * nn.n2))
           END AS reject_05
    FROM nn CROSS JOIN dmax
    """,
)
def embedding_norm_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test on the EXACT scaled squared
    norms of the embedding table, OLD arrival half vs NEW arrival half
    (vec_id*2 <= max id = earlier) — the distribution-health companion
    of ``ivf_ingest_assign``: that query says whether the inverted
    lists grew LOPSIDED; this one says whether the incoming vectors
    changed DISTRIBUTION (a new embedding-model version, an un-
    normalized ingest, a corrupted batch all move the norm law), which
    is the signal to re-train the coarse quantizer rather than just
    re-split a hot cell. The ``ks_doclen_drift`` machinery applied to
    the vector domain: same exact-integer max-gap numerator
    (HUGEINT/decimal(38) cross-multiplication over the norm value
    domain), same scaled lambda and alpha=0.05 Smirnov gate
    (c(0.05) = {KS_C05}, the shared literal).

    Determinism: v = the int64-scaled norm (``norm_sq_scaled`` /
    ``sql_dot_scaled`` — already bit-identical across engines); the
    arrival split is exact integer arithmetic against the broadcast max
    id; the CDFs never materialize as doubles. Empty / one-sided inputs
    yield NULL verdicts via identical guards.

    Scale shape: one fused Arrow pass computes norms; a map-side-
    combinable histogram over (norm value, half) collapses the table;
    the CDF window runs over DISTINCT NORM VALUES (value-domain — the
    documented exception class); everything after is scalar. No
    fact-sized shuffle beyond the histogram."""
    emb = load(spark, sf_dir, "embeddings")
    se = emb.select(
        "vec_id", V.norm_sq_scaled(F.col("embedding")).alias("v")
    )
    bounds = se.agg(F.max("vec_id").cast("bigint").alias("max_id"))
    rows = se.crossJoin(F.broadcast(bounds)).select(
        "v",
        (F.col("vec_id") * 2 <= F.col("max_id")).cast("bigint").alias("is_a"),
    )
    hist = rows.groupBy("v").agg(
        F.sum("is_a").alias("c1"),
        (F.count("*") - F.sum("is_a")).alias("c2"),
    )
    zero = F.lit(0).cast("bigint")
    nn = hist.agg(
        F.coalesce(F.sum("c1"), zero).cast("bigint").alias("n1"),
        F.coalesce(F.sum("c2"), zero).cast("bigint").alias("n2"),
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        F.sum("c1").over(w).alias("f1"), F.sum("c2").over(w).alias("f2")
    )
    dec = "decimal(38,0)"
    dmax = cum.crossJoin(F.broadcast(nn)).agg(
        F.coalesce(
            F.max(
                F.abs(
                    F.col("f1").cast(dec) * F.col("n2")
                    - F.col("f2").cast(dec) * F.col("n1")
                )
            ),
            F.lit(0).cast(dec),
        )
        .cast("bigint")
        .alias("d_num")
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    ok = (F.col("n1") > 0) & (F.col("n2") > 0)
    d = F.col("d_num").cast("double") / (n1d * n2d)
    return nn.crossJoin(F.broadcast(dmax)).select(
        F.col("n1").alias("n_old"),
        F.col("n2").alias("n_new"),
        "d_num",
        F.when(ok, d).alias("d_stat"),
        F.when(
            ok, F.round(d * F.sqrt(n1d * n2d / (n1d + n2d)), 9)
        ).alias("ks_lambda"),
        F.when(
            ok,
            d > F.expr(KS_C05) * F.sqrt((n1d + n2d) / (n1d * n2d)),
        ).alias("reject_05"),
    )


def _nprobe_curve_oracle() -> str:
    # Truth side composes ann_topk_cosine's REGISTERED oracle verbatim
    # (the release-gate convention); the IVF side re-derives the same
    # ranked-cells CTE ann_ivf_topk's oracle uses.
    from bigdata_2025_1_spark.registry import ORACLES as _O

    return f"""
    WITH truth AS (
      SELECT query_id, neighbor_id FROM ({_O["ann_topk_cosine"]})
    ), se AS MATERIALIZED (
      SELECT vec_id, {V.sql_scaled_e9('embedding', _DIM)} AS se
      FROM embeddings
    ), proj AS (
      SELECT vec_id, {V.sql_ivf_projs_from('se', _CENTROIDS)} AS projs
      FROM se
    ), cells AS (
      SELECT vec_id, CAST(r.cell AS INT) AS cell, projs[r.cell + 1] AS p
      FROM proj CROSS JOIN range({N_CELLS}) r(cell)
    ), ranked_cells AS MATERIALIZED (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY p DESC, cell) AS crk
      FROM cells
    ), corpus AS (
      SELECT vec_id AS neighbor_id, cell FROM ranked_cells WHERE crk = 1
    ), cell_sizes AS (
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS cell_rows
      FROM corpus GROUP BY cell
    ), rankings AS (
      SELECT vec_id AS query_id, cell, CAST(crk AS BIGINT) AS crk
      FROM ranked_cells
      WHERE vec_id < {N_QUERY_VECS} AND crk <= {N_PROBE}
    ), found AS (
      SELECT t.query_id, r.crk
      FROM truth t
      JOIN corpus c USING (neighbor_id)
      LEFT JOIN rankings r ON r.query_id = t.query_id AND r.cell = c.cell
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth
    ), nq AS (
      SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries
      FROM rankings
    ), cn AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS corpus_n FROM corpus
    ), ps AS (
      SELECT CAST(r.p + 1 AS INT) AS nprobe FROM range({N_PROBE}) r(p)
    ), rec AS (
      SELECT ps.nprobe,
             CAST(COALESCE(SUM(CASE WHEN f.crk <= ps.nprobe THEN 1 END), 0)
                  AS BIGINT) AS n_found
      FROM ps LEFT JOIN found f ON TRUE
      GROUP BY ps.nprobe
    ), scan AS (
      SELECT ps.nprobe,
             CAST(COALESCE(SUM(CASE WHEN r.crk <= ps.nprobe
                                    THEN s.cell_rows END), 0)
                  AS BIGINT) AS scanned_rows
      FROM ps
      LEFT JOIN rankings r ON TRUE
      LEFT JOIN cell_sizes s ON s.cell = r.cell
      GROUP BY ps.nprobe
    )
    SELECT rec.nprobe,
           CASE WHEN tot.n_truth > 0
                THEN rec.n_found::DOUBLE / tot.n_truth END AS recall_at_k,
           CASE WHEN nq.n_queries > 0 AND cn.corpus_n > 0
                THEN scan.scanned_rows::DOUBLE
                     / (nq.n_queries::DOUBLE * cn.corpus_n)
           END AS scanned_frac,
           tot.n_truth AS n_truth,
           nq.n_queries AS n_queries
    FROM rec JOIN scan USING (nprobe)
    CROSS JOIN tot CROSS JOIN nq CROSS JOIN cn
    ORDER BY rec.nprobe
    """


@query("ivf_nprobe_recall_curve", oracle=_nprobe_curve_oracle())
def ivf_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nprobe TUNING CURVE for the served IVF index: exact
    recall@{TOP_K} against the brute-force truth AND the expected
    fraction of the corpus scanned, for every nprobe in 1..{N_PROBE} —
    the operating-point table an index operator reads before changing
    the ``ann_ivf_topk`` config (the maintenance companion of
    ``ivf_ingest_assign``: census says the lists' health, this says
    what a probe-budget buys).

    Recall needs NO per-nprobe re-ranking: a true top-{TOP_K} neighbor
    is retrieved at nprobe=p iff its cell sits within the query's p
    best cells. (Proof: the only candidates that could push a found
    true member out of the retrieved top-{TOP_K} score strictly higher
    or tie with a lower neighbor_id — and any such candidate outranks
    it in the FULL ordering too, so it is itself a true member. Hence
    |retrieved ∩ truth| = #{{true members with cell rank <= p}}, the
    exact micro-averaged recall.) Scanned fraction = mean over queries
    of the row mass in their p best cells.

    Determinism: the truth side IS the registered ``ann_topk_cosine``
    oracle; cell ranks use the shared exact-int projection argsort
    (``ORDER BY p DESC, cell``); both outputs are single double
    divisions of exact integer counts; empty input emits the full
    {N_PROBE}-row spine with NULL metrics under identical guards.

    Scale shape: truth pairs are probe-set-sized ({N_QUERY_VECS} x
    {TOP_K}); rankings are {N_QUERY_VECS} x {N_PROBE}; cell sizes are
    {N_CELLS} rows — every join after the two Arrow assignment passes
    is broadcast-tiny, and the nprobe spine is a constant range. The
    corpus assignment is the shared ``_corpus_cells`` frame, checkpointed
    for its two uses here (cell sizes, truth join); inside
    ``ann_release_gate`` it and ``ivf_ingest_assign`` read the gate's
    one shared Arrow pass."""
    emb = load(spark, sf_dir, "embeddings")
    truth = ann_topk_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    corpus = _corpus_cells(spark, sf_dir).localCheckpoint().select(
        F.col("vec_id").alias("neighbor_id"), "cell"
    )
    cell_sizes = corpus.groupBy("cell").agg(
        F.count("*").cast("bigint").alias("cell_rows")
    )
    probes_pd = V.make_ivf_probes_pandas(_CENTROIDS, N_PROBE)
    rankings = (
        emb.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(
            F.col("vec_id").alias("query_id"),
            F.posexplode(
                probes_pd(F.col("embedding")).getField("cells")
            ).alias("pos", "cell"),
        )
        .select(
            "query_id", "cell", (F.col("pos") + 1).cast("bigint").alias("crk")
        )
    )
    found = truth.join(corpus, "neighbor_id").join(
        rankings, ["query_id", "cell"], "left"
    )
    tot = truth.agg(F.count("*").cast("bigint").alias("n_truth"))
    nq = rankings.agg(
        F.countDistinct("query_id").cast("bigint").alias("n_queries")
    )
    cn = corpus.agg(F.count("*").cast("bigint").alias("corpus_n"))
    ps = spark.range(1, N_PROBE + 1).select(
        F.col("id").cast("int").alias("nprobe")
    )
    rec = (
        ps.join(F.broadcast(found.select("crk")), F.lit(True), "left")
        .groupBy("nprobe")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("crk") <= F.col("nprobe"), 1)), F.lit(0)
            )
            .cast("bigint")
            .alias("n_found")
        )
    )
    scan = (
        ps.join(
            F.broadcast(rankings.join(cell_sizes, "cell").select("crk", "cell_rows")),
            F.lit(True),
            "left",
        )
        .groupBy("nprobe")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("crk") <= F.col("nprobe"), F.col("cell_rows")
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("scanned_rows")
        )
    )
    return (
        rec.join(scan, "nprobe")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(nq))
        .crossJoin(F.broadcast(cn))
        .select(
            "nprobe",
            F.when(
                F.col("n_truth") > 0,
                F.col("n_found").cast("double") / F.col("n_truth"),
            ).alias("recall_at_k"),
            F.when(
                (F.col("n_queries") > 0) & (F.col("corpus_n") > 0),
                F.col("scanned_rows").cast("double")
                / (F.col("n_queries").cast("double") * F.col("corpus_n")),
            ).alias("scanned_frac"),
            # probe-pipeline telemetry (already computed for the
            # guards): lets ann_release_gate distinguish "index nobody
            # queries" (n_queries = 0, vacuous pass) from "probe
            # pipeline broken" (queries exist, metrics missing) —
            # round-12 ADVICE item. Constant across the spine.
            "n_truth",
            "n_queries",
        )
        .orderBy("nprobe")
    )


# --- ANN index release gate (suite-composition capstone) --------------------

# Gate thresholds — shared literals so the comparisons are the same IEEE
# chain in both engines. Real index-operations defaults (the sf fixtures
# pass all four: recall@12 = 0.632 at sf0.01 / 0.72 at sf0.1, scanned_frac
# ~0.38, zero hot cells, no norm drift; the deny and no-decision branches
# are exercised on crafted tables in tests/test_ann_release_gate.py):
ANN_GATE_MIN_RECALL = "0.6"  # the deployed nprobe must retrieve >=60% of
# the brute-force top-k (below that the index is silently lying to users)
ANN_GATE_MAX_SCAN = "0.5"  # <=50% of the corpus scanned per query (above
# that the inverted lists buy <2x over brute force — re-split or re-train)


def _ann_gate_oracle() -> str:
    # Compose the legs' REGISTERED oracles verbatim (the
    # corpus/dedup_release_gate convention) — the gate can never drift
    # from what the correctness gate certifies leg by leg. All three
    # legs are registered ABOVE in this module, so ORACLES has them.
    from bigdata_2025_1_spark.registry import ORACLES as _O

    return f"""
    WITH census AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_cells_occupied,
             CAST(COALESCE(SUM(CASE WHEN needs_split THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_cells_need_split,
             CAST(COALESCE(SUM(n_vecs), 0) AS BIGINT) AS n_vecs,
             MAX(fill_ratio) AS max_fill_ratio
      FROM ({_O["ivf_ingest_assign"]})
    ), drift AS (
      SELECT reject_05 AS ks_reject FROM ({_O["embedding_norm_drift"]})
    ), curve AS (
      SELECT recall_at_k AS recall_at_deployed,
             scanned_frac AS scanned_frac_at_deployed,
             n_truth, n_queries
      FROM ({_O["ivf_nprobe_recall_curve"]})
      WHERE nprobe = {N_PROBE}
    ), vals AS (
      SELECT * FROM census CROSS JOIN drift CROSS JOIN curve
    ), oks AS (
      SELECT n_vecs, n_cells_occupied, n_cells_need_split, max_fill_ratio,
             ks_reject, recall_at_deployed, scanned_frac_at_deployed,
             n_truth, n_queries,
             CASE WHEN n_vecs = 0 THEN NULL
                  ELSE n_cells_need_split = 0 END AS ok_balance,
             CASE WHEN n_vecs = 0 THEN NULL
                  WHEN ks_reject IS NULL THEN TRUE
                  ELSE NOT ks_reject END AS ok_drift,
             CASE WHEN n_vecs = 0 THEN NULL
                  WHEN recall_at_deployed IS NULL AND n_queries = 0
                       THEN TRUE
                  WHEN recall_at_deployed IS NULL THEN NULL
                  ELSE recall_at_deployed >= {ANN_GATE_MIN_RECALL}
             END AS ok_recall,
             CASE WHEN n_vecs = 0 THEN NULL
                  WHEN scanned_frac_at_deployed IS NULL AND n_queries = 0
                       THEN TRUE
                  WHEN scanned_frac_at_deployed IS NULL THEN NULL
                  ELSE scanned_frac_at_deployed <= {ANN_GATE_MAX_SCAN}
             END AS ok_scan
      FROM vals
    )
    SELECT n_vecs, n_cells_occupied, n_cells_need_split, max_fill_ratio,
           ks_reject, recall_at_deployed, scanned_frac_at_deployed,
           n_truth, n_queries,
           ok_balance, ok_drift, ok_recall, ok_scan,
           (ok_balance AND ok_drift AND ok_recall AND ok_scan) AS ann_ok
    FROM oks
    """


@query("ann_release_gate", oracle=_ann_gate_oracle())
def ann_release_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN index's RELEASE DECISION, in one row — the similarity-
    family MAINTENANCE capstone (``retrieval_eval_suite`` gates the
    ranking QUALITY of a candidate index; this gates the OPERATIONAL
    health of the served one), completing the release-gate convention
    across all four operational families (corpus, dedup, layout, index).
    Composes, by CALLING the registered queries so the gate can never
    drift from what the correctness gate certifies leg by leg:

    - ``ivf_ingest_assign``      -> n_cells_need_split (gate: 0 — no
      inverted list outgrew {IVF_SPLIT_FACTOR}x its share), plus the
      n_vecs / n_cells_occupied / max_fill_ratio telemetry;
    - ``embedding_norm_drift``   -> ks_reject (gate: the alpha=0.05
      Smirnov test must NOT reject — a rejected norm law means the
      coarse quantizer no longer matches the data and needs re-training,
      not just a re-split);
    - ``ivf_nprobe_recall_curve``-> the DEPLOYED operating point
      (nprobe = {N_PROBE}, the config ``ann_ivf_topk`` serves): recall
      >= {ANN_GATE_MIN_RECALL} at scanned_frac <= {ANN_GATE_MAX_SCAN}
      (the win-over-brute-force guard).

    ``ann_ok`` is the conjunction. Every sub-scalar is reconciled
    against its standalone query by tests/test_ann_release_gate.py.

    Null semantics (identical three-valued logic in both engines): an
    EMPTY vector table yields NULL verdicts and a NULL (unknown) ann_ok
    — a no-decision, not a pass. A non-empty table with a one-sided
    arrival split passes the drift leg vacuously (nothing to compare).
    The recall/scan legs pass vacuously ONLY when the probe set itself
    is empty (``n_queries = 0`` — an index nobody queries must not
    block release); if queries EXIST but the deployed-point metrics are
    NULL anyway (e.g. a truth side that went empty — a broken probe
    pipeline, not an idle one), the leg is a NULL no-decision, never a
    silent pass. The gate row carries ``n_queries`` / ``n_truth`` so an
    operator reading a vacuous or no-decision verdict sees which case
    fired (round-12 ADVICE hardening).

    Scale shape: all three legs are already scale-audited standalone
    (one Arrow assignment pass collapsing to {N_CELLS} rows; the
    value-domain KS histogram; the broadcast-tiny curve joins). Both
    the census and the curve legs read the gate's shared
    ``_corpus_cells`` frame, so the Arrow assignment runs once per gate
    evaluation instead of once per leg."""
    recall, scanned = F.col("recall_at_deployed"), F.col("scanned_frac_at_deployed")
    idle = F.col("n_queries") == 0
    return release_gate(
        [
            lambda: ivf_ingest_assign(spark, sf_dir).agg(
                F.count("*").cast("bigint").alias("n_cells_occupied"),
                F.coalesce(F.sum(F.col("needs_split").cast("int")), F.lit(0))
                .cast("bigint")
                .alias("n_cells_need_split"),
                F.coalesce(F.sum("n_vecs"), F.lit(0))
                .cast("bigint")
                .alias("n_vecs"),
                F.max("fill_ratio").alias("max_fill_ratio"),
            ),
            lambda: embedding_norm_drift(spark, sf_dir).select(
                F.col("reject_05").alias("ks_reject")
            ),
            lambda: ivf_nprobe_recall_curve(spark, sf_dir)
            .filter(F.col("nprobe") == N_PROBE)
            .select(
                F.col("recall_at_k").alias("recall_at_deployed"),
                F.col("scanned_frac").alias("scanned_frac_at_deployed"),
                "n_truth",
                "n_queries",
            ),
        ],
        out=[
            "n_vecs",
            "n_cells_occupied",
            "n_cells_need_split",
            "max_fill_ratio",
            "ks_reject",
            "recall_at_deployed",
            "scanned_frac_at_deployed",
            "n_truth",
            "n_queries",
        ],
        verdicts={
            "ok_balance": F.col("n_cells_need_split") == 0,
            "ok_drift": F.when(F.col("ks_reject").isNull(), F.lit(True)).otherwise(
                ~F.col("ks_reject")
            ),
            # vacuous pass ONLY when nobody queries (an index nobody
            # queries must not block release); metrics missing DESPITE
            # a live probe set fall through to a NULL comparison — a
            # broken probe pipeline is a no-decision, never a pass.
            "ok_recall": F.when(recall.isNull() & idle, F.lit(True)).otherwise(
                recall >= float(ANN_GATE_MIN_RECALL)
            ),
            "ok_scan": F.when(scanned.isNull() & idle, F.lit(True)).otherwise(
                scanned <= float(ANN_GATE_MAX_SCAN)
            ),
        },
        ok="ann_ok",
        empty=F.col("n_vecs") == 0,
        shared=[_corpus_cells(spark, sf_dir)],
    )
