"""Retrieval-composition operators: reciprocal rank fusion (RRF) — the
standard way to combine rankings from heterogeneous retrievers (BM25 +
dense, or here: cosine vs raw inner product) without score calibration.

RRF(d) = Σ_r 1/(K + rank_r(d)) over retrievers r, K=60 (Cormack et al.).
Ranks are integers (row_number with a deterministic tiebreak), so the
fused score is the same IEEE double in any engine — fusion needs NO
cross-engine float trust beyond identical arithmetic on identical ints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_2025_1_spark.functions import text as T
from bigdata_2025_1_spark.functions import vectors as V
from bigdata_2025_1_spark.io import load, spread
from bigdata_2025_1_spark.functions.ranks import rank_after_limit
from bigdata_2025_1_spark.registry import query

RRF_K = 60
N_PROBES = 25  # probe set (vec_id < 25): smaller than ann_topk's 50 —
# every (probe, corpus) pair is ranked TWICE here
TOP_K = 5
_DIM = 64

_SQL_DOT = V.sql_dot_scaled("qa.embedding", "qb.embedding", _DIM)
_SQL_NORM = V.sql_dot_scaled("embedding", "embedding", _DIM)


@query(
    "rrf_rank_fusion",
    oracle=f"""
    WITH norms AS (
      SELECT vec_id, embedding, {_SQL_NORM} AS nsq FROM embeddings
    ), pairs AS (
      SELECT qa.vec_id AS query_id, qb.vec_id AS neighbor_id,
             {_SQL_DOT} AS dot_i,
             {_SQL_DOT}::DOUBLE / (sqrt(qa.nsq::DOUBLE) * sqrt(qb.nsq::DOUBLE)) AS cosine
      FROM norms qa JOIN norms qb
        ON qa.vec_id < {N_PROBES} AND qa.vec_id <> qb.vec_id
    ), ranked AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS r_cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dot_i DESC, neighbor_id) AS r_dot
      FROM pairs
    ), fused AS (
      SELECT query_id, neighbor_id,
             1.0 / ({RRF_K} + r_cos) + 1.0 / ({RRF_K} + r_dot) AS rrf,
             CAST(r_cos AS INT) AS r_cos, CAST(r_dot AS INT) AS r_dot
      FROM ranked
    )
    SELECT query_id, neighbor_id, rrf, r_cos, r_dot
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY rrf DESC, neighbor_id) AS rk
          FROM fused)
    WHERE rk <= {TOP_K}
    ORDER BY query_id, rrf DESC, neighbor_id
    """,
)
def rrf_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank fusion of two retrievers over the same probe set:
    cosine similarity (normalized) and raw inner product (magnitude-
    sensitive) rank every candidate independently; the fused top-5 per
    probe favors candidates BOTH rankings place high. This is the
    composition layer a hybrid search pipeline puts above its ANN
    retrievers (swap either ranking for BM25/SRP/IVF lists unchanged).

    Determinism: both ranks are row_number over exact int64 scores
    (scaled dot; cosine's ordering is pinned by the same ints) with
    neighbor_id tiebreaks; rrf = two double divisions on small ints,
    identical both engines.

    Scale shape: probes broadcast against the corpus (no corpus
    shuffle); the double window runs behind ONE query_id exchange —
    fusing R retrievers adds windows, not shuffles. At real scale each
    retriever contributes only its own top-N list (tiny) and fusion
    joins those lists — this query fuses FULL rankings to keep the
    oracle total."""
    emb = load(spark, sf_dir, "embeddings")
    norms = spread(emb).select(
        "vec_id", "embedding", V.norm_sq_scaled(F.col("embedding")).alias("nsq")
    )
    probes = norms.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nsq").alias("q_nsq"),
    )
    corpus = norms.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nsq").alias("c_nsq"),
    )
    dot_i = V.dot_scaled(F.col("q_emb"), F.col("c_emb"))
    cosine = V.cosine_from_scaled(dot_i, F.col("q_nsq"), F.col("c_nsq"))
    pairs = (
        corpus.join(F.broadcast(probes), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            dot_i.alias("dot_i"),
            cosine.alias("cosine"),
        )
    )
    by_q = Window.partitionBy("query_id")
    r_cos = F.row_number().over(by_q.orderBy(F.desc("cosine"), "neighbor_id"))
    r_dot = F.row_number().over(by_q.orderBy(F.desc("dot_i"), "neighbor_id"))
    fused = pairs.select(
        "query_id",
        "neighbor_id",
        r_cos.alias("r_cos_l"),
        r_dot.alias("r_dot_l"),
    ).select(
        "query_id",
        "neighbor_id",
        (
            F.lit(1.0) / (F.lit(RRF_K) + F.col("r_cos_l"))
            + F.lit(1.0) / (F.lit(RRF_K) + F.col("r_dot_l"))
        ).alias("rrf"),
        F.col("r_cos_l").cast("int").alias("r_cos"),
        F.col("r_dot_l").cast("int").alias("r_dot"),
    )
    rk = F.row_number().over(by_q.orderBy(F.desc("rrf"), "neighbor_id"))
    return (
        fused.withColumn("rk", rk)
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "rrf", "r_cos", "r_dot")
        .orderBy("query_id", F.desc("rrf"), "neighbor_id")
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("dup", "spark", "join", "vector", "window")
BM25_TOP = 15
_SQL_TERMS = ", ".join(f"'{t}'" for t in BM25_TERMS)


@query(
    "bm25_doc_ranking",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS ts
      FROM documents
    ), dl AS (
      SELECT doc_id, len(ts) AS dl FROM toks
    ), stats AS (
      SELECT COUNT(*) AS n_docs, SUM(len(ts))::DOUBLE / COUNT(*) AS avgdl FROM toks
    ), tf AS (
      SELECT doc_id, word, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(ts) AS word FROM toks)
      WHERE word IN ({_SQL_TERMS})
      GROUP BY doc_id, word
    ), df AS (
      SELECT word, COUNT(*) AS doc_freq FROM tf GROUP BY word
    ), scored AS (
      SELECT tf.doc_id,
             CAST(ROUND(ln(1 + (s.n_docs - df.doc_freq + 0.5e0) / (df.doc_freq + 0.5e0))
                        * (tf.tf * {BM25_K1 + 1}e0) / (tf.tf + {BM25_K1}e0 * ({1 - BM25_B}e0 + {BM25_B}e0 * dl.dl / s.avgdl))
                        * 1e6) AS BIGINT) AS s_i6
      FROM tf JOIN df USING (word) JOIN dl USING (doc_id) CROSS JOIN stats s
    ), agg AS (
      SELECT doc_id, SUM(s_i6) AS bm25_i6, COUNT(*) AS n_terms_hit FROM scored GROUP BY doc_id
    )
    SELECT doc_id, CAST(bm25_i6 AS BIGINT)::DOUBLE / 1e6 AS bm25,
           CAST(n_terms_hit AS BIGINT) AS n_terms_hit, CAST(rank AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY bm25_i6 DESC, doc_id) AS rank FROM agg)
    WHERE rank <= {BM25_TOP}
    ORDER BY rank
    """,
)
def bm25_doc_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (Okapi, k1=1.2, b=0.75) ranking of the corpus for a fixed
    5-term query — the sparse-retrieval half of the hybrid stack whose
    fusion layer is ``rrf_rank_fusion``. idf = ln(1 + (N−df+0.5)/(df+0.5))
    (Robertson-Sparck-Jones, +1 so scores stay positive); tf is saturated
    by k1 and length-normalized by b·dl/avgdl.

    Determinism: tf/df/dl/N are exact integers and avgdl is one double
    division; each per-term score is the SAME chained double expression
    in both engines (only ln touches libm — rounded to 6 dp like tfidf),
    then scaled to int64 BEFORE the per-doc sum, so summing terms in any
    partition order is exact and the ranking sorts integers.

    Scale shape: tf shuffles only matched-term postings (the IN filter
    prunes at the explode); df aggregates tf (tiny → broadcast back);
    dl joins tf on doc_id — one co-keyed shuffle; corpus stats are a
    1-row broadcast. Top-k is a TakeOrdered (per-partition partial
    top-k, merged on the driver) — no global sort or window over the
    scored docs."""
    docs = spread(load(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", T.ws_tokens(F.lower(F.col("text"))).alias("ts"))
    dl = toks.select("doc_id", F.size("ts").alias("dl"))
    stats = toks.agg(
        F.count("*").alias("n_docs"),
        (F.sum(F.size("ts")).cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        toks.select("doc_id", F.explode("ts").alias("word"))
        .filter(F.col("word").isin(*BM25_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("word").agg(F.count("*").alias("doc_freq"))
    idf = F.log(
        F.lit(1) + (F.col("n_docs") - F.col("doc_freq") + F.lit(0.5)) / (F.col("doc_freq") + F.lit(0.5))
    )
    den = F.col("tf") + F.lit(BM25_K1) * (
        F.lit(1 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
    )
    s_i6 = F.round(idf * (F.col("tf") * F.lit(BM25_K1 + 1)) / den * F.lit(1e6)).cast("bigint")
    scored = (
        tf.join(F.broadcast(df), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", s_i6.alias("s_i6"))
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("s_i6").alias("bm25_i6"), F.count("*").alias("n_terms_hit")
    )
    # Top-k FIRST (TakeOrdered — distributed partial top-k, no global
    # sort/window over every scoring doc), then rank the k survivors.
    return (
        rank_after_limit(agg, [F.desc("bm25_i6"), F.col("doc_id")], BM25_TOP)
        .select(
            "doc_id",
            (F.col("bm25_i6").cast("double") / F.lit(1e6)).alias("bm25"),
            "n_terms_hit",
            "rank",
        )
        .orderBy("rank")
    )


SQ_SHORTLIST = 64
_SQL_SCALED = V.sql_scaled_e9("embedding", _DIM)


@query(
    "ann_sq8_topk",
    oracle=f"""
    WITH coded AS MATERIALIZED (
      SELECT vec_id, embedding,
             {_SQL_NORM} AS nsq,
             list_max([abs(embedding[i]::DOUBLE) for i in range(1, {_DIM + 1})]) AS s,
             CASE WHEN list_max([abs(embedding[i]::DOUBLE) for i in range(1, {_DIM + 1})]) = 0
                  THEN [0.0::DOUBLE for i in range(1, {_DIM + 1})]
                  ELSE [ROUND(127 * embedding[i]::DOUBLE /
                              list_max([abs(embedding[j]::DOUBLE) for j in range(1, {_DIM + 1})]))
                        for i in range(1, {_DIM + 1})]
             END AS codes
      FROM embeddings
    ), scored AS (
      SELECT qa.vec_id AS query_id, qb.vec_id AS neighbor_id,
             qb.s * CAST(list_dot_product(qa.codes, qb.codes) AS BIGINT) AS approx
      FROM coded qa JOIN coded qb
        ON qa.vec_id < {N_PROBES} AND qa.vec_id <> qb.vec_id
    ), short AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY approx DESC, neighbor_id) AS srk
            FROM scored)
      WHERE srk <= {SQ_SHORTLIST}
    ), rer AS (
      SELECT s.query_id, s.neighbor_id,
             {V.sql_dot_scaled('qa.embedding', 'qb.embedding', _DIM)}::DOUBLE
               / (sqrt(qa.nsq::DOUBLE) * sqrt(qb.nsq::DOUBLE)) AS cosine
      FROM short s
      JOIN coded qa ON qa.vec_id = s.query_id
      JOIN coded qb ON qb.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rank
          FROM rer)
    WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (SQ8) ANN: each vector compresses to 64 int8
    codes + one float scale (max-abs per vector, 4× smaller than
    float32); the scoring scan ranks by ``scale_x · Σ q_code·x_code``
    (query-side constants drop out of a per-query ranking), then exact
    cosine re-ranks the top-64 shortlist. This is FAISS's SQ family —
    the third compression point next to PQ (``ann_pq_adc_topk``, 32×,
    codebook lookups) and IVF (partition pruning): SQ8 keeps a cheap
    in-register integer dot and near-exact recall at modest compression.

    Determinism: codes are round(127·x/maxabs) on identical doubles in
    both engines (zero-vectors guard to all-0 codes); the integer dot is
    exact (≤ 64·127² ≪ 2⁵³ even as DuckDB doubles); the approx score is
    ONE double multiply of (scale × int); the re-rank is the exact
    int64-scaled cosine used by every ANN twin. All JVM higher-order
    exprs — no UDF anywhere.

    Scale shape: probes broadcast; the corpus scan reads codes+scale
    only; raw embeddings are joined back just for shortlist rows."""
    emb = load(spark, sf_dir, "embeddings")
    absed = F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    s = F.array_max(absed)
    codes = F.when(
        s == 0, F.transform(F.col("embedding"), lambda x: F.lit(0.0))
    ).otherwise(
        F.transform(
            F.col("embedding"),
            lambda x: F.round(F.lit(127) * x.cast("double") / s),
        )
    )
    coded = spread(emb).select(
        "vec_id",
        "embedding",
        V.norm_sq_scaled(F.col("embedding")).alias("nsq"),
        s.alias("s"),
        codes.alias("codes"),
    ).localCheckpoint()
    probes = coded.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("query_id"), F.col("codes").alias("q_codes")
    )
    corpus = coded.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("codes").alias("c_codes"),
        F.col("s").alias("c_s"),
    )
    idot = F.aggregate(
        F.zip_with(F.col("q_codes"), F.col("c_codes"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ).cast("bigint")
    scored = corpus.join(
        F.broadcast(probes), F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id", (F.col("c_s") * idot).alias("approx"))
    ws = Window.partitionBy("query_id").orderBy(F.desc("approx"), "neighbor_id")
    short = (
        scored.withColumn("srk", F.row_number().over(ws))
        .filter(F.col("srk") <= SQ_SHORTLIST)
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
    cosine = V.cosine_from_scaled(
        V.dot_scaled(F.col("q_emb"), F.col("c_emb")), F.col("q_nsq"), F.col("c_nsq")
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        short.join(F.broadcast(qa), "query_id")
        .join(cb, "neighbor_id")
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


# --- SQ8 quantization-distortion audit -----------------------------------


@query(
    "sq8_quantization_error",
    oracle=f"""
    WITH coded AS MATERIALIZED (
      SELECT vec_id, label,
             {_SQL_NORM} AS nsq,
             list_max([abs(embedding[i]::DOUBLE) for i in range(1, {_DIM + 1})]) AS s,
             embedding
      FROM embeddings
    ), errs AS (
      SELECT label, nsq,
             CASE WHEN s = 0 THEN 0
                  ELSE list_sum([CAST(ROUND(
                         (embedding[i]::DOUBLE
                          - s * ROUND(127 * embedding[i]::DOUBLE / s) / 127)
                         * (embedding[i]::DOUBLE
                            - s * ROUND(127 * embedding[i]::DOUBLE / s) / 127)
                         * 1e12) AS BIGINT) for i in range(1, {_DIM + 1})])
             END AS err_i12
      FROM coded
    ), rel AS (
      SELECT label, nsq,
             CASE WHEN nsq > 0
                  THEN CAST(ROUND(err_i12::DOUBLE / nsq * 1e9) AS BIGINT)
             END AS rel_i9
      FROM errs
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CASE WHEN COUNT(rel_i9) > 0
                THEN SUM(rel_i9)::DOUBLE / COUNT(rel_i9) / 1e9 END AS mean_rel_err,
           CASE WHEN COUNT(rel_i9) > 0
                THEN MAX(rel_i9)::DOUBLE / 1e9 END AS max_rel_err,
           CAST(SUM(CASE WHEN nsq = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero_vectors
    FROM rel
    GROUP BY label
    ORDER BY label
    """,
)
def sq8_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 reconstruction-distortion audit — the measurement that
    justifies (or vetoes) running ANN over compressed codes
    (``ann_sq8_topk``): per label cohort, the mean and max RELATIVE
    squared reconstruction error ‖x − dequant(quant(x))‖²/‖x‖² of the
    round(127·x/maxabs) quantizer, plus the zero-vector count the
    quantizer maps to all-zero codes. FAISS publishes exactly this
    distortion-vs-compression read before picking SQ8 vs PQ vs float.

    Determinism: the reconstruction delta is a fixed IEEE op sequence
    per element rounded once to 1e-12ths and summed in int64; the
    per-vector relative ratio is rounded once to 1e-9ths; cohort mean =
    exact int sum / count-of-ratios. nsq = 0 vectors are EXCLUDED from
    the ratio (ANSI divide-by-zero is a job failure, not a NaN) but
    COUNTED: every label appears — n_vectors counts ALL its vectors,
    n_zero_vectors its all-zero ones, and mean/max are NULL for a label
    with no nonzero vector, so the zero-vector audit reports exactly
    the cohort it exists to flag (an all-zero label formerly vanished).

    Scale shape: map-only per-vector arithmetic; one label-keyed
    map-side-combinable aggregate; output is cohort-sized. The audit
    reads the SAME coded columns the ANN query scans, so at 100 TB it
    runs as a side aggregation of the encode pass, not a second scan."""
    emb = spread(load(spark, sf_dir, "embeddings"))
    absed = F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    s = F.array_max(absed)
    delta = F.transform(
        F.col("embedding"),
        lambda x: x.cast("double")
        - F.col("s") * F.round(F.lit(127) * x.cast("double") / F.col("s")) / F.lit(127),
    )
    err_i12 = F.aggregate(
        F.transform(delta, lambda d: F.round(d * d * F.lit(1e12)).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    errs = emb.select(
        "label",
        V.norm_sq_scaled(F.col("embedding")).alias("nsq"),
        s.alias("s"),
        "embedding",
    ).select(
        "label",
        "nsq",
        F.when(F.col("s") == 0, F.lit(0).cast("bigint")).otherwise(err_i12).alias("err_i12"),
    )
    rel = errs.select(
        "label",
        "nsq",
        F.when(
            F.col("nsq") > 0,
            F.round(F.col("err_i12").cast("double") / F.col("nsq") * F.lit(1e9)).cast(
                "bigint"
            ),
        ).alias("rel_i9"),
    )
    n_rel = F.count("rel_i9")  # counts non-null only: the nonzero-vector count
    return (
        rel.groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.when(
                n_rel > 0, F.sum("rel_i9").cast("double") / n_rel / F.lit(1e9)
            ).alias("mean_rel_err"),
            F.when(n_rel > 0, F.max("rel_i9").cast("double") / F.lit(1e9)).alias(
                "max_rel_err"
            ),
            F.sum(F.when(F.col("nsq") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_zero_vectors"),
        )
        .orderBy("label")
    )
