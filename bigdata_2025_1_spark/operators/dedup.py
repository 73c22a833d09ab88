"""Deduplication operators for LLM-data pipelines (charter extension):
exact, MinHash+LSH near-dup, SimHash + hamming banding, n-gram Jaccard.

Scale design (the part that matters at 100 TB):
- exact dedup groups on a 128-bit content hash, never on the full text —
  the shuffle moves 16-byte keys, not documents;
- MinHash: per-doc signatures are computed shuffle-free (higher-order
  exprs); the LSH band join shuffles only (band_key, doc_id) pairs; full
  shingle sets are joined back ONLY for candidate pairs (the verify step);
- SimHash hamming search uses byte-banding (pigeonhole: hamming ≤ 1 on a
  16-bit hash ⇒ equal high byte or equal low byte) so the self-join is two
  equi-joins, never a cross join.

Hash portability: md5 hex strings (identical in Spark and DuckDB) are used
as the hash family everywhere — MinHash takes lexicographic mins of seeded
md5s, which is a valid random permutation and needs no hex→int casting.
"""

from __future__ import annotations

from functools import reduce
from operator import and_, or_

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_2025_1_spark.functions import text as T
from bigdata_2025_1_spark.functions.hashing import md5_int, sql_md5_int
from bigdata_2025_1_spark.functions.iterate import min_label_propagate
from bigdata_2025_1_spark.functions.overlap import ratio, release_gate
from bigdata_2025_1_spark.functions.pairs import (
    band_pairs,
    jaccard,
    overlap_sizes,
    pair_sides,
    rarest_shingle_pairs,
)
from bigdata_2025_1_spark.functions.ranks import with_global_rank
from bigdata_2025_1_spark.io import load, spread
from bigdata_2025_1_spark.registry import query

NUM_HASHES = 8
BANDS = 2  # rows-per-band = 4 → P(candidate | j≈0.99) ≈ 1
JACCARD_THRESHOLD = 0.8

# DuckDB shingle fragment shared by several oracles (3-word shingles of the
# lowercased, whitespace-tokenized text — mirror of functions/text.py).
_SQL_TOKS = "list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t <> '')"
_SQL_SHINGLES = (
    "list_distinct([array_to_string(toks[i:i+2], ' ') "
    "for i in range(1, greatest(len(toks) - 2, 0) + 1)])"
)
def _sql_rot_min(i: int) -> str:
    if i == 0:
        return "list_min([md5(s) for s in shingles])"
    return f"list_min([substr(md5(s), {i + 1}) || substr(md5(s), 1, {i}) for s in shingles])"


_SQL_SIG = ", ".join(f"{_sql_rot_min(i)} AS mh{i}" for i in range(NUM_HASHES))


def _sql_bands_for(bands: int) -> str:
    """DuckDB band rows over the ``sig`` CTE, GENERATED from NUM_HASHES
    exactly like the Spark side (band b = md5 of the contiguous
    signature slice [b*per, (b+1)*per)), so changing either constant
    can never desynchronize oracle and implementation."""
    per = NUM_HASHES // bands
    return "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5({' || '.join(f'mh{i}' for i in range(b * per, (b + 1) * per))})"
        f" AS band_key FROM sig"
        for b in range(bands)
    )


assert NUM_HASHES % BANDS == 0, "band layout requires BANDS | NUM_HASHES"
_SQL_BANDS = _sql_bands_for(BANDS)


def signatures_from_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles, sig) from a (doc_id, text, ...) frame — the
    'materialize the signature table' step of every LSH pipeline, shared
    by the batch queries and the streaming micro-batch ingest twin."""
    return docs.select(
        "doc_id", T.word_shingles(F.col("text"), k=3).alias("shingles")
    ).select(
        "doc_id",
        "shingles",
        T.minhash_signature(F.col("shingles"), NUM_HASHES).alias("sig"),
    )


def _signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, shingles, sig) frame of the LSH family. It is plain:
    every consumer reads it more than once (band join and verify join)
    and checkpoints it, and ``dedup_release_gate`` shares it across its
    legs.

    The tokenize step under the shingles is the shared
    :func:`doc_lt_toks` subtree (``word_shingles(text) ==
    word_shingles_from_tokens(ws_tokens(lower(text)))`` by definition),
    so inside ``platform_release_gate``, which shares that frame, this
    leg reads the one cached tokenize pass."""
    from bigdata_2025_1_spark.operators.shared_text import doc_lt_toks

    toks = doc_lt_toks(spark, sf_dir).select(
        "doc_id", T.word_shingles_from_tokens(F.col("toks"), 3).alias("shingles")
    )
    return toks.select(
        "doc_id",
        "shingles",
        T.minhash_signature(F.col("shingles"), NUM_HASHES).alias("sig"),
    )


def _cand_jaccard(sig: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) for every DISTINCT banded candidate pair
    under the deployed (BANDS x rows-per-band) config — the shared
    verify pass of the LSH family.

    ``dedup_minhash_lsh`` (threshold filter + order) and
    ``lsh_recall_eval`` (candidate count + verified count in one
    aggregate) and, through them, the connected-components chain and
    ``dedup_release_gate`` each read this frame once, plain. Inside
    ``dedup_release_gate`` the verify pass runs once per leg (the
    recall leg and the canonical-doc leg's connected-components chain):
    the gate shares the signature frame, not this one.

    Scale shape: the candidate join moves (band, band_key, doc_id)
    only; shingle sets join back for candidate pairs alone."""
    cand = band_pairs(_band_rows(sig), "doc_id")
    return pair_sides(cand, sig, ["shingles"]).select(
        "doc_a", "doc_b", jaccard("shingles_a", "shingles_b").alias("jaccard")
    )


def _band_rows(sig: DataFrame, bands: int = BANDS) -> DataFrame:
    """(doc_id, band, band_key) — one row per band, key = md5 of the
    contiguous signature slice (the Spark twin of _SQL_BANDS). The
    ``bands`` parameter (default: the deployed config) serves
    ``lsh_band_sweep``'s config grid; any divisor of NUM_HASHES is a
    valid banding of the same signature."""
    per_band = NUM_HASHES // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat(
                        *[F.col("sig")[i] for i in range(b * per_band, (b + 1) * per_band)]
                    )
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


@query(
    "dedup_exact",
    oracle="""
    WITH hashed AS (
      SELECT doc_id, md5(text) AS content_hash FROM documents
    ), keepers AS (
      SELECT doc_id, content_hash,
             MIN(doc_id) OVER (PARTITION BY content_hash) AS keeper_doc_id
      FROM hashed
    )
    SELECT doc_id, keeper_doc_id, doc_id <> keeper_doc_id AS is_duplicate
    FROM keepers
    ORDER BY doc_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on md5(content), keep the smallest doc_id.

    Returns the full assignment (doc → keeper) rather than just survivors
    so the duplicate mapping is auditable — what a training-data pipeline
    actually persists."""
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("content_hash")
    return (
        docs.select("doc_id", F.md5("text").alias("content_hash"))
        .withColumn("keeper_doc_id", F.min("doc_id").over(w))
        .select(
            "doc_id",
            "keeper_doc_id",
            (F.col("doc_id") != F.col("keeper_doc_id")).alias("is_duplicate"),
        )
        .orderBy("doc_id")
    )


@query(
    "minhash_signatures",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ), sh AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM tok
    )
    SELECT doc_id, {_SQL_SIG}
    FROM sh
    ORDER BY doc_id
    """,
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signature (8 seeded-md5 minima over 3-word
    shingles). Shuffle-free: one projection."""
    docs = load(spark, sf_dir, "documents")
    shingles = T.word_shingles(F.col("text"), k=3)
    # checkpoint the one-column signature before fanning out to mh0..mh7:
    # element extraction would otherwise clone the whole signature
    # expression per output column (no CSE across higher-order funcs).
    sigdf = spread(docs).select(
        "doc_id", T.minhash_signature(shingles, NUM_HASHES).alias("sig")
    ).localCheckpoint()
    return sigdf.select(
        "doc_id", *[F.col("sig")[i].alias(f"mh{i}") for i in range(NUM_HASHES)]
    ).orderBy("doc_id")


_LSH_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), sh AS (
  SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM tok
), sig AS (
  SELECT doc_id, shingles, {_SQL_SIG} FROM sh
), bands AS (
{_SQL_BANDS}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
         / len(list_distinct(sa.shingles || sb.shingles)) AS jaccard
FROM cand c
JOIN sh sa ON sa.doc_id = c.doc_a
JOIN sh sb ON sb.doc_id = c.doc_b
WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
        / len(list_distinct(sa.shingles || sb.shingles)) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


@query("dedup_minhash_lsh", oracle=_LSH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate pairs: signature → band keys → bucket
    equi-join for candidates → exact Jaccard verify ≥ 0.8.

    The candidate join carries only (band, band_key, doc_id); shingle sets
    rejoin just for the (few) candidates. Jaccard = |∩|/|∪| is a single
    int division — bit-stable cross-engine. The checkpointed frame
    keeps the shingles beside the signature: re-deriving them for the
    verify joins was measured slower (3 shingle computations vs 1)."""
    # Signatures are expensive (8 seeded md5 passes over every shingle) and
    # feed BOTH the band join (twice) and the verify join (twice), so they
    # are checkpointed: the lineage computes them exactly once.
    return (
        _cand_jaccard(_signatures(spark, sf_dir).localCheckpoint())
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("doc_a", "doc_b")
    )


_ODD = "'1','3','5','7','9','b','d','f'"
_SIMHASH_VOTES = ", ".join(
    f"SUM(CASE WHEN substr(h, {j + 1}, 1) IN ({_ODD}) THEN 1 ELSE -1 END) AS v{j}"
    for j in range(16)
)
_SIMHASH_VALUE = " + ".join(f"CASE WHEN v{j} > 0 THEN {2**j} ELSE 0 END" for j in range(16))

_SIMHASH_SQL = f"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), ex AS (
  SELECT doc_id, md5(unnest(toks)) AS h FROM tok
), votes AS (
  SELECT doc_id, {_SIMHASH_VOTES} FROM ex GROUP BY doc_id
)
-- LEFT JOIN keeps zero-token docs: null votes -> every CASE yields 0 ->
-- simhash 0, matching Spark's empty-fold result
SELECT t.doc_id, CAST({_SIMHASH_VALUE} AS BIGINT) AS simhash
FROM tok t LEFT JOIN votes USING (doc_id)
"""


@query(
    "simhash_values",
    oracle=f"SELECT doc_id, simhash FROM ({_SIMHASH_SQL}) ORDER BY doc_id",
)
def simhash_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (md5 hex-digit parity votes). Spark
    computes it per-row with higher-order folds (no shuffle); the oracle
    mirrors it relationally via unnest+GROUP BY — same votes, same hash."""
    docs = load(spark, sf_dir, "documents")
    return spread(docs).select(
        "doc_id", T.simhash_bits(F.col("text"), bits=16).alias("simhash")
    ).orderBy("doc_id")


def simhash_hamming_pairs(sim: DataFrame, k: int = 1, bits: int = 16) -> DataFrame:
    """Near-dup pairs with hamming distance ≤ ``k`` from a
    ``(doc_id, simhash)`` frame, via pigeonhole banding: split the
    ``bits``-bit hash into ``k+1`` contiguous bit-bands — ≤ k differing
    bits cannot touch every band, so at least one band matches exactly
    and the pair search is k+1 equi-joins on small integer keys (never a
    cross join, at any scale and any k). Exact, not approximate: banding
    only generates candidates; the ``bit_count`` filter keeps precision
    at 1, and recall is 1 by the pigeonhole argument (pinned against a
    brute-force twin in ``tests/test_simhash_banding.py``).

    Band layout (MSB→LSB, wider bands first) for bits=16, k=1 is the two
    byte halves — ``simhash div 256`` and ``simhash % 256`` — matching
    the ``dedup_simhash_hamming`` oracle SQL verbatim."""
    nb = k + 1
    base, rem = divmod(bits, nb)
    widths = [base + 1 if j < rem else base for j in range(nb)]
    if base == 0:
        raise ValueError(f"k={k} needs at most bits-1={bits - 1} (one bit per band)")
    offsets, pos = [], bits
    for w in widths:
        pos -= w
        offsets.append(pos)  # LSB offset of band j (band 0 holds the MSBs)
    keys = F.array(
        *[
            F.shiftright(F.col("simhash"), o) % F.lit(1 << w)
            for o, w in zip(offsets, widths)
        ]
    )
    banded = sim.select(
        "doc_id", "simhash", F.posexplode(keys).alias("band", "band_key")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= k)
        .orderBy("doc_a", "doc_b")
    )


@query(
    "dedup_simhash_hamming",
    oracle=f"""
    WITH sim AS ({_SIMHASH_SQL}),
    banded AS (
      SELECT doc_id, simhash, 0 AS band, simhash // 256 AS band_key FROM sim
      UNION ALL
      SELECT doc_id, simhash, 1 AS band, simhash % 256 AS band_key FROM sim
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sim_a, b.simhash AS sim_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sim_a, sim_b)) <= 1
    ORDER BY doc_a, doc_b
    """,
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with hamming ≤ 1 via byte banding
    (pigeonhole: ≤1 differing bit ⇒ high byte or low byte equal), so the
    pair search is two equi-joins on one-byte keys — no cross join at any
    scale. Generalized banding for hamming ≤ k lives in
    :func:`simhash_hamming_pairs`; this query is its k=1 instance."""
    docs = load(spark, sf_dir, "documents")
    sim = spread(docs).select(
        "doc_id", T.simhash_bits(F.col("text"), bits=16).alias("simhash")
    )
    return simhash_hamming_pairs(sim, k=1, bits=16)


_CHAR_SHINGLE_SQL = (
    "list_distinct([substr(txt, i, 5) for i in range(1, greatest(length(txt) - 4, 0) + 1)])"
)


@query(
    "dedup_char_ngram_jaccard",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, regexp_replace(regexp_replace(lower(text), '^[	

                  　]+|[	

                  　]+$', '', 'g'), '[	

                  　]+', ' ', 'g') AS txt
      FROM documents
    ), sh AS (
      SELECT doc_id, {_CHAR_SHINGLE_SQL} AS grams FROM norm
    ), sig AS (
      SELECT doc_id, grams,
             [CASE WHEN i = 1 THEN list_min([md5(g) for g in grams])
                   ELSE list_min([substr(md5(g), i) || substr(md5(g), 1, i - 1) for g in grams])
              END for i in range(1, 9)] AS mh
      FROM sh
    ), cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.mh AS mh_a, b.mh AS mh_b
      FROM sig a JOIN sig b ON a.mh[1] = b.mh[1] AND a.doc_id < b.doc_id
    ), pre AS (
      SELECT doc_a, doc_b
      FROM cand
      WHERE list_sum([CASE WHEN mh_a[i] = mh_b[i] THEN 1 ELSE 0 END for i in range(1, 9)]) >= 6
    )
    SELECT p.doc_a, p.doc_b,
           len(list_intersect(sa.grams, sb.grams))::DOUBLE
             / len(list_distinct(sa.grams || sb.grams)) AS jaccard
    FROM pre p
    JOIN sh sa ON sa.doc_id = p.doc_a
    JOIN sh sb ON sb.doc_id = p.doc_b
    WHERE len(list_intersect(sa.grams, sb.grams))::DOUBLE
            / len(list_distinct(sa.grams || sb.grams)) >= 0.7
    ORDER BY doc_a, doc_b
    """,
)
def dedup_char_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character 5-gram Jaccard near-dup, two-stage:

    1. candidates = equal first minhash element (1-hash fingerprint);
    2. cheap prefilter: rotation-minhash signature agreement >= 6/8
       (8 ints per pair, not a 1000-element set intersection — on
       shared-vocabulary corpora the fingerprint bucket alone produces
       quadratic candidate clusters, measured 27 s -> ~2 s at sf0.1);
    3. exact Jaccard >= 0.7 only for prefilter survivors.

    Char grams catch edits word-level shingles miss."""
    docs = spread(load(spark, sf_dir, "documents"))
    # materialize normalized text FIRST: the gram lambda references txt
    # once per gram, and without a barrier Catalyst inlines (= re-runs)
    # the normalize regexes per gram — a ~1000x amplification
    norm = docs.select(
        "doc_id", T.normalize_ws(F.lower(F.col("text"))).alias("txt")
    ).localCheckpoint()
    txt = F.col("txt")
    n = F.length(txt)
    # short-text guard: sequence(1,0) counts DOWN and substr(pos=0) would
    # fabricate a gram the oracle never produces — <5 chars → no grams
    idx = F.when(n >= 5, F.sequence(F.lit(1), n - F.lit(4))).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.array_distinct(F.transform(idx, lambda i: F.substr(txt, i, F.lit(5))))
    sh = (
        norm.select("doc_id", grams.alias("grams"))
        .select(
            "doc_id",
            "grams",
            T.minhash_signature(F.col("grams"), 8).alias("mh"),
        )
        .localCheckpoint()
    )
    # Signature agreement as 8 FLAT integer-column comparisons, not a
    # zip_with/aggregate over the array pair: the flat form stays inside
    # whole-stage codegen while the higher-order form drops to the
    # interpreted evaluator per candidate pair — measured 5.7 s → 0.3 s
    # on the sf0.1 prefilter (same 2213 pairs; candidate contract —
    # mh[0] bucket equality — unchanged, matching the oracle verbatim).
    a = sh.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col("mh")[i].alias(f"ma{i}") for i in range(8)],
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col("mh")[i].alias(f"mb{i}") for i in range(8)],
    )
    sig_matches = sum(
        F.when(F.col(f"ma{i}") == F.col(f"mb{i}"), 1).otherwise(0) for i in range(8)
    )
    pre = (
        a.join(
            b,
            (F.col("ma0") == F.col("mb0")) & (F.col("doc_a") < F.col("doc_b")),
        )
        .filter(sig_matches >= 6)
        .select("doc_a", "doc_b")
    )
    return (
        pair_sides(pre, sh, ["grams"])
        .select("doc_a", "doc_b", jaccard("grams_a", "grams_b").alias("jaccard"))
        .filter(F.col("jaccard") >= 0.7)
        .orderBy("doc_a", "doc_b")
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH sig AS (
      SELECT e.vec_id, e.embedding, d.source,
             list_sum([CAST(ROUND(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE * 1e12) AS BIGINT)
                       for i in range(1, 65)]) AS nsq
      FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
    )
    SELECT a.vec_id AS doc_a, b.vec_id AS doc_b, a.source AS source_a, b.source AS source_b,
           list_sum([CAST(ROUND(a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE * 1e12) AS BIGINT)
                     for i in range(1, 65)])::DOUBLE
             / (sqrt(a.nsq::DOUBLE) * sqrt(b.nsq::DOUBLE)) AS cosine
    FROM sig a JOIN sig b ON a.vec_id < b.vec_id
    WHERE list_sum([CAST(ROUND(a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE * 1e12) AS BIGINT)
                    for i in range(1, 65)])::DOUBLE
            / (sqrt(a.nsq::DOUBLE) * sqrt(b.nsq::DOUBLE)) >= 0.45
    ORDER BY doc_a, doc_b
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup over the DOCUMENTS table (embeddings
    joined on vec_id = doc_id): semantic duplicates that text shingles
    can't see. Exact all-pairs here (correctness anchor — the scale path
    is ann_srp_lsh_pairs' banding); scaled-int dot products keep cosine
    bit-stable."""
    from bigdata_2025_1_spark.functions import vectors as V

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    emb = load(spark, sf_dir, "embeddings")
    sig = (
        spread(emb.join(docs, docs.doc_id == emb.vec_id))
        .select(
            "vec_id",
            "source",
            "embedding",
            V.norm_sq_scaled(F.col("embedding")).alias("nsq"),
        )
        .localCheckpoint()
    )
    # Scale guard: this query is the deliberate O(n²) exact anchor for the
    # banded-LSH path. Refuse inputs where all-pairs is no longer sane so
    # the anchor cannot be cargo-culted onto a large table (the count is
    # on the already-checkpointed signatures, so it costs one cheap job).
    n_vectors = sig.count()
    if n_vectors > 10_000:
        raise ValueError(
            f"dedup_embedding_cosine is an exact all-pairs anchor and got "
            f"{n_vectors} vectors (limit 10000); use ann_srp_lsh_pairs "
            f"(banded SRP-LSH) for large tables"
        )
    # Round-14 shape (guide §8: decide with small rows, move big rows
    # once — here, ship the SMALL SIDE once per executor, not per pair):
    # the former theta-join + per-pair Arrow dot kernel shipped BOTH
    # 64-dim embeddings across the Python boundary for every one of the
    # n²/2 pairs (~2 GB of Arrow traffic and 1 np.stack per batch of
    # pairs at sf0.1 — measured 41 s wall / 1 077 s task time). The
    # guard above bounds the table at 10 k vectors (≤ 5 MB), so the
    # whole comparison side now crosses the boundary ONCE as a numpy
    # matrix (sc.broadcast — the bradley_terry bounded-kernel
    # convention), and one mapInPandas pass computes each partition's
    # pair block with per-DIMENSION vectorized outer products.
    # Exactness is the same chain bit-for-bit: per-term
    # round-half-away((a_i·b_i)·1e12) as int64 (identical op order to
    # make_dot_scaled_pandas), exact int64 term sums, one double divide
    # by the sqrt-norm product. Measured at sf0.1: 41 s wall / 1 077 s
    # task time profiled under the join form; interleaved A/B best-of-2
    # 6.4 -> 3.0 s with identical output (oracle-checked at all three
    # SFs, tuned and vanilla).
    import numpy as np
    import pandas as pd

    rows = sig.select("vec_id", "source", "embedding", "nsq").collect()
    if not rows:
        return spark.createDataFrame(
            [],
            "doc_a bigint, doc_b bigint, source_a string, "
            "source_b string, cosine double",
        )
    b_ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    b_src = [r["source"] for r in rows]
    b_mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    b_nsq = np.array([r["nsq"] for r in rows], dtype=np.int64)
    # The broadcast's lifetime is deliberately tied to the returned
    # plan's closure: the frame is LAZY and re-executed per bench rep /
    # consumer, so an eager destroy() here would break every execution.
    # Spark's ContextCleaner reclaims the blocks when the plan (and with
    # it this closure) is garbage-collected.
    bc = spark.sparkContext.broadcast((b_ids, b_src, b_mat, b_nsq))
    dim = b_mat.shape[1]

    def pair_blocks(it):
        ids_b, src_b, mat_b, nsq_b = bc.value
        sqrt_b = np.sqrt(nsq_b.astype(np.float64))
        src_b_arr = np.array(src_b, dtype=object)
        for pdf in it:
            if pdf.empty:
                continue
            A = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            ids_a = pdf["vec_id"].to_numpy().astype(np.int64)
            src_a = pdf["source"].to_numpy()
            sqrt_a = np.sqrt(pdf["nsq"].to_numpy().astype(np.float64))
            # Σ_i round_half_away(a_i·b_i·1e12): one (m x n) outer
            # product per dimension, rounded per TERM exactly like the
            # per-pair kernel, accumulated in exact int64
            R = np.zeros((A.shape[0], len(ids_b)), dtype=np.int64)
            for i in range(dim):
                p = np.outer(A[:, i], mat_b[:, i]) * 1e12
                R += (np.sign(p) * np.floor(np.abs(p) + 0.5)).astype(
                    np.int64
                )
            # a zero-norm row yields 0/0 -> NaN, which the >= filter
            # drops (the SQL NULL semantics); silence the per-batch
            # numpy RuntimeWarning that the intentional NaN would emit
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = R.astype(np.float64) / (
                    sqrt_a[:, None] * sqrt_b[None, :]
                )
            keep = (cos >= 0.45) & (ids_a[:, None] < ids_b[None, :])
            ai, bi = np.nonzero(keep)
            if len(ai) == 0:
                continue
            yield pd.DataFrame(
                {
                    "doc_a": ids_a[ai],
                    "doc_b": ids_b[bi],
                    "source_a": src_a[ai],
                    "source_b": src_b_arr[bi],
                    "cosine": cos[ai, bi],
                }
            )

    return sig.select("vec_id", "source", "embedding", "nsq").mapInPandas(
        pair_blocks,
        "doc_a bigint, doc_b bigint, source_a string, "
        "source_b string, cosine double",
    ).orderBy("doc_a", "doc_b")


# Shared CTE chain ending in labels(doc_id, cluster_id) — the recursive
# transitive closure of the LSH pair graph. Used by the CC oracle and the
# canonical-doc selection oracle.
_CC_LABELS_CTES = f"""pairs AS ({_LSH_ORACLE}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS doc FROM edges),
    reach(doc, label) AS (
      SELECT doc, doc FROM nodes
      UNION
      SELECT e.b, r.label
      FROM reach r JOIN edges e ON e.a = r.doc
      WHERE r.label < e.b
    ),
    labels AS (
      SELECT doc AS doc_id, MIN(label) AS cluster_id
      FROM reach
      GROUP BY doc
    )"""


@query(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE {_CC_LABELS_CTES}
    SELECT doc_id, cluster_id FROM labels ORDER BY doc_id
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the MinHash-LSH
    pair graph (transitive closure — a∼b, b∼c ⇒ {a,b,c} one cluster,
    cluster id = min doc_id). Iterative min-label propagation with a
    driver-side convergence check — the standard Spark shape for iterative
    graph algorithms (bounded by graph diameter, each step one join+agg).
    The oracle computes the same closure with a recursive CTE."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    fwd = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    rev = pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
    edges = fwd.unionByName(rev).localCheckpoint()
    # Initialization fuses the first propagation round into the same
    # aggregation that deduplicates the node set: label0(v) =
    # min(v, min neighbor) costs exactly what the plain distinct() cost
    # and saves one full join+agg+count round (round-11 measurement).
    labels0 = edges.groupBy(F.col("a").alias("v")).agg(
        F.least(F.first("a"), F.min("b")).alias("label")
    )
    labels = min_label_propagate(
        edges,
        labels0,
        max_rounds=32,  # diameter bound; tiny real-world dup clusters
        err=(
            "dedup_connected_components: label propagation did not converge "
            "within the 32-round diameter bound plus one confirming "
            "round (component diameter > 32?) — returning partial labels "
            "would silently split real clusters"
        ),
    )
    return labels.select(
        F.col("v").alias("doc_id"), F.col("label").alias("cluster_id")
    ).orderBy("doc_id")


@query(
    "canonical_doc_per_cluster",
    oracle=f"""
    WITH RECURSIVE {_CC_LABELS_CTES},
    j AS (
      SELECT l.doc_id, l.cluster_id, d.n_chars
      FROM labels l JOIN documents d USING (doc_id)
    )
    SELECT doc_id, cluster_id,
           FIRST_VALUE(doc_id) OVER w AS keeper_id,
           doc_id = FIRST_VALUE(doc_id) OVER w AS is_keeper
    FROM j
    WINDOW w AS (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY doc_id
    """,
)
def canonical_doc_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: within each near-duplicate cluster
    (connected components over the LSH pair graph) keep the LONGEST
    member (tiebreak lowest doc_id) and map every other member to it —
    the step that turns a dup-pair graph into an actual training-corpus
    keep/drop decision plus a redirect table for provenance.

    Scale shape: composes the CC labels (diameter-bounded iterative
    join) with ONE window over cluster_id — clusters are tiny (near-dup
    groups), so the window partition never skews; the documents join
    brings only (doc_id, n_chars), not text."""
    labels = dedup_connected_components(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = labels.join(docs, "doc_id")
    w = (
        Window.partitionBy("cluster_id")
        .orderBy(F.desc("n_chars"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    keeper = F.first("doc_id").over(w)
    return j.select(
        "doc_id",
        "cluster_id",
        keeper.alias("keeper_id"),
        (F.col("doc_id") == keeper).alias("is_keeper"),
    ).orderBy("doc_id")


CONTAINMENT_THRESHOLD = 0.8


@query(
    "dedup_containment",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ), sh AS (
      SELECT doc_id, shingles, len(shingles) AS sz FROM (
        SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM tok
      ) WHERE len(shingles) > 0
    ), posts AS (
      SELECT doc_id, sz, unnest(shingles) AS shingle FROM sh
    ), df AS (
      SELECT shingle, COUNT(*) AS df FROM posts GROUP BY shingle
    ), rarest AS (
      SELECT doc_id, shingle, sz FROM (
        SELECT p.doc_id, p.shingle, p.sz,
               ROW_NUMBER() OVER (PARTITION BY p.doc_id
                                  ORDER BY d.df, p.shingle) AS rk
        FROM posts p JOIN df d USING (shingle)
      ) WHERE rk = 1
    ), cand AS (
      SELECT r.doc_id AS doc_small, p.doc_id AS doc_big
      FROM rarest r JOIN posts p USING (shingle)
      WHERE r.doc_id <> p.doc_id
        AND (r.sz < p.sz OR (r.sz = p.sz AND r.doc_id < p.doc_id))
    )
    SELECT c.doc_small, c.doc_big,
           len(list_intersect(sa.shingles, sb.shingles))::DOUBLE / sa.sz AS containment,
           CAST(sa.sz AS BIGINT) AS sz_small, CAST(sb.sz AS BIGINT) AS sz_big
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.doc_small
    JOIN sh sb ON sb.doc_id = c.doc_big
    WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE / sa.sz
            >= {CONTAINMENT_THRESHOLD}
    ORDER BY doc_small, doc_big
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: flag documents whose 3-word shingle
    set is ≥80% contained in a LARGER document's set — the
    subset-duplicate case (a paragraph pasted into a longer page) that
    symmetric Jaccard structurally under-scores (|A∩B|/|A∪B| shrinks as
    B grows even when A⊆B).

    Blocking is rare-shingle (prefix-filter family, PPJoin lineage):
    each doc joins only through its globally RAREST shingle (argmin by
    (document frequency, shingle) — a total order, engine-exact), so
    candidate lists are the postings of rare shingles — short by
    construction. Full containment (A⊆B) is caught with certainty (every
    shingle of A, including the rarest, is in B); sub-1.0 thresholds are
    recall-approximate through this single probe (the standard trade —
    more probes = more recall, same algebra).

    Scale shape: df is a map-side-combinable groupBy(shingle); the
    argmin is one groupBy(doc_id) of (df, shingle) structs; the
    candidate join is an equi-join postings-vs-rarest (never all-pairs);
    exact verification joins shingle arrays back for CANDIDATE pairs
    only — same candidates-only contract as the LSH and char-gram
    queries, pinned in tests/test_plans.py."""
    docs = spread(load(spark, sf_dir, "documents"))
    # checkpoint the BARE shingle projection before touching it with
    # size()/filter(): referencing the array column from another
    # expression re-inlines the whole higher-order shingle tree
    # (no CSE across higher-order functions — the char-ngram query's
    # lesson), measured 3.5 s vs 0.6 s for this stage at sf0.1.
    sh0 = docs.select(
        "doc_id", T.word_shingles(F.col("text"), k=3).alias("shingles")
    ).localCheckpoint()
    sh = sh0.withColumn("sz", F.size("shingles")).filter(F.col("sz") > 0)
    cand = rarest_shingle_pairs(sh, "shingles").select("doc_small", "doc_big")
    sa = sh.select(
        F.col("doc_id").alias("doc_small"), F.col("shingles").alias("ga"), F.col("sz").alias("sza")
    )
    sb = sh.select(
        F.col("doc_id").alias("doc_big"), F.col("shingles").alias("gb"), F.col("sz").alias("szb")
    )
    containment = F.size(F.array_intersect("ga", "gb")).cast("double") / F.col("sza")
    return (
        cand.join(sa, "doc_small")
        .join(sb, "doc_big")
        .select(
            "doc_small",
            "doc_big",
            containment.alias("containment"),
            F.col("sza").cast("bigint").alias("sz_small"),
            F.col("szb").cast("bigint").alias("sz_big"),
        )
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .orderBy("doc_small", "doc_big")
    )


SNM_WINDOW = 3  # neighbors compared after sorting (classic w)
SNM_KEY_CHARS = 40


@query(
    "dedup_sorted_neighborhood",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ), sh AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM tok
    ), keyed AS (
      SELECT doc_id,
             substr(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), 1, {SNM_KEY_CHARS})
               AS snm_key
      FROM documents
    ), ordered AS (
      SELECT doc_id, snm_key,
             ROW_NUMBER() OVER (ORDER BY snm_key, doc_id) AS rn
      FROM keyed
    ), cand AS (
      {" UNION ALL ".join(
        f'''SELECT doc_id AS doc_a,
                   LEAD(doc_id, {i}) OVER (ORDER BY rn) AS doc_b
            FROM ordered''' for i in range(1, SNM_WINDOW + 1))}
    ), pairs AS (
      SELECT LEAST(doc_a, doc_b) AS doc_a, GREATEST(doc_a, doc_b) AS doc_b
      FROM cand WHERE doc_b IS NOT NULL
    )
    SELECT p.doc_a, p.doc_b,
           len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
             / len(list_distinct(sa.shingles || sb.shingles)) AS jaccard
    FROM pairs p
    JOIN sh sa ON sa.doc_id = p.doc_a
    JOIN sh sb ON sb.doc_id = p.doc_b
    WHERE len(sa.shingles) > 0 AND len(sb.shingles) > 0
      AND len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
            / len(list_distinct(sa.shingles || sb.shingles)) >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup (Hernandez-Stolfo): sort documents by a
    cheap lexical key (first 40 normalized chars), compare each doc only
    with its next 3 sorted neighbors, verify candidates with exact
    shingle Jaccard ≥ 0.8 — the THIRD blocking family in this repo next
    to hash-bucket LSH (probabilistic) and rare-token prefix filtering
    (frequency-based): near-dups with shared openings land adjacent, so
    candidates are O(n·w) by construction.

    Determinism: the sort key and (key, doc_id) order are total, so the
    global rank (``with_global_rank``) is a pure function of the data;
    neighbor offsets are fixed; verification is the same exact Jaccard
    as the LSH family.

    Scale shape: NO single-partition window anywhere (pinned in
    tests/test_plans.py). The global (snm_key, doc_id) order is
    materialized as an int64 rank via range-repartition +
    partition-local numbering + a partition-count-sized offset table
    (``functions/ranks.py``); the "next w neighbors" relation is then
    the equi-join ``a.rn + off = b.rn`` with the w-row offsets table
    broadcast — candidate count is exactly n·w and every join is an
    equi-join; shingle arrays are joined back for candidates only."""
    docs = spread(load(spark, sf_dir, "documents"))
    sh = docs.select(
        "doc_id", T.word_shingles(F.col("text"), k=3).alias("shingles")
    ).localCheckpoint()
    key = F.substring(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), 1, SNM_KEY_CHARS
    )
    # checkpointed: both sides of the neighbor equi-join read the ranked
    # table — without it each side runs its own per-partition counts and
    # offset broadcast (5 more jobs per query at sf0.01, local[4])
    ordered = with_global_rank(
        docs.select("doc_id", key.alias("snm_key")), ["snm_key", "doc_id"], "rn"
    ).localCheckpoint()
    offsets = spark.range(1, SNM_WINDOW + 1).select(F.col("id").alias("off"))
    a = ordered.select(F.col("doc_id").alias("doc_a"), "rn")
    b = ordered.select(F.col("doc_id").alias("doc_b"), F.col("rn").alias("rn_b"))
    cand = (
        a.crossJoin(F.broadcast(offsets))
        .withColumn("rn_b", F.col("rn") + F.col("off"))
        .join(b, "rn_b")
    )
    pairs = cand.select(
        F.least("doc_a", "doc_b").alias("doc_a"),
        F.greatest("doc_a", "doc_b").alias("doc_b"),
    )
    return (
        pair_sides(pairs, sh, ["shingles"])
        .filter((F.size("shingles_a") > 0) & (F.size("shingles_b") > 0))
        .select("doc_a", "doc_b", jaccard("shingles_a", "shingles_b").alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("doc_a", "doc_b")
    )


@query(
    "dup_cluster_size_histogram",
    oracle=f"""
    WITH RECURSIVE {_CC_LABELS_CTES},
    sizes AS (
      SELECT cluster_id, COUNT(*) AS cluster_size FROM labels GROUP BY cluster_id
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size - 1) AS BIGINT) AS removable_docs
    FROM sizes GROUP BY cluster_size
    ORDER BY cluster_size
    """,
)
def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate cluster-size histogram: how many clusters of each
    size the LSH pair graph's transitive closure produces, and how many
    documents deduplication would remove from each size class
    (size − 1 per cluster, keeping one canonical member) — the
    before/after capacity estimate a dedup run is budgeted with.

    Scale shape: composes the CC labels (diameter-bounded iterative
    join, shared machinery with ``dedup_connected_components``) with two
    map-side-combinable aggregates over cluster-count-sized data."""
    labels = dedup_connected_components(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum(F.col("cluster_size") - 1).alias("removable_docs"),
        )
        .orderBy("cluster_size")
    )


@query(
    "minhash_estimation_error",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ), sh AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM tok
    ), sig AS (
      SELECT doc_id, shingles, {_SQL_SIG} FROM sh
    ), bands AS (
{_SQL_BANDS}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id
    ), scored AS (
      SELECT c.doc_a, c.doc_b,
             ({" + ".join(f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(NUM_HASHES))})
               AS n_agree,
             len(list_intersect(sa.shingles, sb.shingles)) AS inter,
             len(list_distinct(sa.shingles || sb.shingles)) AS uni
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, CAST(n_agree AS BIGINT) AS n_agree,
           CAST(n_agree AS BIGINT)::DOUBLE / {NUM_HASHES} AS jaccard_est,
           inter::DOUBLE / uni AS jaccard_exact,
           CAST(ABS(n_agree * uni - {NUM_HASHES} * inter) AS BIGINT) AS abs_err_scaled
    FROM scored
    ORDER BY doc_a, doc_b
    """,
)
def minhash_estimation_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator audit: for every LSH candidate pair, the
    signature-agreement Jaccard ESTIMATE (agreeing components / 8)
    side-by-side with the EXACT shingle Jaccard, plus the absolute
    error as the integer cross-product |agree·|∪| − 8·|∩|| — the
    measurement that justifies (or resizes) the signature width before
    a 100 TB dedup run trusts its candidate thresholds.

    Determinism: agreement counts and set sizes are integers; the two
    ratios are single exact-int double divisions; the error column is
    pure integer arithmetic so even "how wrong" is bit-exact.

    Scale shape: identical candidate discipline to ``dedup_minhash_lsh``
    (band-bucket equi-join, signatures checkpointed once, full sets joined
    back for candidates only) — the audit costs one more projection on
    the pairs the pipeline already computes."""
    sig = _signatures(spark, sf_dir).localCheckpoint()
    cand = band_pairs(_band_rows(sig), "doc_id")
    # signature elements are extracted once per doc, not once per pair
    mh = [f"mh{i}" for i in range(NUM_HASHES)]
    flat = sig.select(
        "doc_id", "shingles", *[F.col("sig")[i].alias(m) for i, m in enumerate(mh)]
    )
    n_agree = sum(
        F.when(F.col(f"{m}_a") == F.col(f"{m}_b"), 1).otherwise(0) for m in mh
    )
    inter, uni = overlap_sizes("shingles_a", "shingles_b")
    return (
        pair_sides(cand, flat, ["shingles", *mh])
        .select(
            "doc_a",
            "doc_b",
            n_agree.cast("bigint").alias("n_agree"),
            (n_agree.cast("double") / NUM_HASHES).alias("jaccard_est"),
            jaccard("shingles_a", "shingles_b").alias("jaccard_exact"),
            F.abs(n_agree * uni - NUM_HASHES * inter).cast("bigint").alias(
                "abs_err_scaled"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


SWEEP_JACCARD_PCTS = (70, 80, 90, 100)


@query(
    "dedup_threshold_sweep",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ), sh AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM tok
    ), sig AS (
      SELECT doc_id, shingles, {_SQL_SIG} FROM sh
    ), bands AS (
{_SQL_BANDS}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id
    ), scored AS (
      SELECT len(list_intersect(sa.shingles, sb.shingles)) AS inter,
             len(list_distinct(sa.shingles || sb.shingles)) AS uni
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b
    )
    SELECT * FROM (
      {" UNION ALL ".join(
        f'''SELECT {t} AS threshold_pct,
                   CAST(SUM(CASE WHEN inter * 100 >= {t} * uni THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_pairs
            FROM scored''' for t in SWEEP_JACCARD_PCTS)}
    ) ORDER BY threshold_pct
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-threshold sweep over the LSH candidate pairs: how many
    near-duplicate pairs each cut (0.7/0.8/0.9/1.0) would flag — the
    sensitivity table read before fixing ``dedup_minhash_lsh``'s
    threshold on a full corpus (candidates are scored ONCE; each
    operating point is an integer cross-multiplied conditional count —
    ``100·|∩| ≥ t·|∪|`` — so no float threshold and no rescoring).

    Scale shape: identical candidate discipline to the LSH query; the
    sweep adds conditional sums on the already-joined pairs."""
    sig = _signatures(spark, sf_dir).localCheckpoint()
    cand = band_pairs(_band_rows(sig), "doc_id")
    inter, uni = overlap_sizes("shingles_a", "shingles_b")
    scored = (
        pair_sides(cand, sig, ["shingles"])
        .select(inter.alias("inter"), uni.alias("uni"))
        .localCheckpoint()
    )
    outs = []
    for t in SWEEP_JACCARD_PCTS:
        outs.append(
            scored.agg(
                F.sum(
                    F.when(F.col("inter") * 100 >= t * F.col("uni"), 1).otherwise(0)
                ).alias("n_pairs")
            ).select(F.lit(t).alias("threshold_pct"), "n_pairs")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("threshold_pct")


@query(
    "dedup_incremental_lsh",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ), sh AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM tok
    ), sig AS (
      SELECT doc_id, shingles, {_SQL_SIG} FROM sh
    ), bands AS (
      {_SQL_BANDS}
    ), cand AS (
      SELECT DISTINCT n.doc_id AS doc_new, o.doc_id AS doc_old
      FROM bands n JOIN bands o ON n.band = o.band AND n.band_key = o.band_key
      WHERE n.doc_id % 2 = 1 AND o.doc_id % 2 = 0
    ), scored AS (
      SELECT c.doc_new, c.doc_old,
             len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
               / len(list_distinct(sa.shingles || sb.shingles)) AS jaccard
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_new
      JOIN sh sb ON sb.doc_id = c.doc_old
      WHERE len(sa.shingles) > 0 AND len(sb.shingles) > 0
        AND len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
              / len(list_distinct(sa.shingles || sb.shingles)) >= {JACCARD_THRESHOLD}
    ), best AS (
      SELECT doc_new, doc_old, jaccard,
             COUNT(*) OVER (PARTITION BY doc_new) AS n_dups,
             ROW_NUMBER() OVER (PARTITION BY doc_new
                                ORDER BY jaccard DESC, doc_old) AS rn
      FROM scored
    )
    SELECT d.doc_id AS doc_new,
           CAST(COALESCE(b.n_dups, 0) AS BIGINT) AS n_dups,
           b.doc_old AS dup_of,
           b.jaccard AS jaccard,
           b.doc_old IS NULL AS is_new_content
    FROM documents d
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.doc_new = d.doc_id
    WHERE d.doc_id % 2 = 1
    ORDER BY doc_new
    """,
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup dedup — the ingestion shape: a new batch
    (doc_id odd, the stand-in for today's crawl) is checked against the
    EXISTING corpus (doc_id even) only, never against itself. Per new
    document: how many corpus near-dups it has, its best match
    (highest Jaccard, smallest doc_id tiebreak), and an is_new_content
    verdict — what an ingest job actually writes to its admission log.
    The self-join family (``dedup_minhash_lsh``) answers "clean this
    corpus"; this answers "may this batch enter", the query that runs
    every day at 100 TB while the full self-join runs once a quarter.

    Determinism: same md5 MinHash/band machinery as the LSH family
    (shared ``_signatures``/``_band_rows``/``_SQL_BANDS``); the best
    match is a (jaccard DESC, doc_id) window pick per new doc — a total
    order because Jaccard is an exact int ratio.

    Scale shape: the band join is new-batch × corpus-bands on band-key
    equality — candidate count scales with the BATCH, not the corpus;
    at deploy time the corpus band table is a materialized index
    (bucketed by band_key — proven shuffle-free on the corpus side in
    ``tests/test_lsh_index_layout.py``) so the daily cost is one
    equi-join against an existing layout plus verification of candidates
    only. The final per-new-doc window partitions by doc_new (tiny
    groups). The core is :func:`lsh_admission_log`, shared verbatim with
    the streaming micro-batch ingest twin (``tests/test_streaming.py``)."""
    sig = _signatures(spark, sf_dir).localCheckpoint()
    is_new = F.col("doc_id") % 2 == 1
    return lsh_admission_log(sig.filter(is_new), sig.filter(~is_new))


def lsh_admission_log(new_sig: DataFrame, corpus_sig: DataFrame) -> DataFrame:
    """Admission log for a NEW batch of signature rows against a STANDING
    corpus signature table (both in the :func:`signatures_from_docs`
    schema): per new doc, its corpus near-dup count, best match and
    is_new_content verdict. Pure function of its two inputs — the batch
    query and the streaming foreachBatch ingest both call it, so the
    two paths cannot drift."""
    nb = _band_rows(new_sig).select(
        F.col("doc_id").alias("doc_new"), "band", "band_key"
    )
    ob = _band_rows(corpus_sig).select(
        F.col("doc_id").alias("doc_old"), "band", "band_key"
    )
    cand = nb.join(ob, ["band", "band_key"]).select("doc_new", "doc_old").distinct()
    return _admission_from_candidates(new_sig, corpus_sig, cand)


# --- arrival-ordered incremental LSH (growing index) ----------------------


@query(
    "dedup_lsh_arrival_log",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ), sh AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM tok
    ), sig AS (
      SELECT doc_id, shingles, {_SQL_SIG} FROM sh
    ), bands AS (
      {_SQL_BANDS}
    ), cand AS (
      SELECT DISTINCT n.doc_id AS doc_new, o.doc_id AS doc_old
      FROM bands n JOIN bands o ON n.band = o.band AND n.band_key = o.band_key
      WHERE o.doc_id < n.doc_id
    ), scored AS (
      SELECT c.doc_new, c.doc_old,
             len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
               / len(list_distinct(sa.shingles || sb.shingles)) AS jaccard
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_new
      JOIN sh sb ON sb.doc_id = c.doc_old
      WHERE len(sa.shingles) > 0 AND len(sb.shingles) > 0
        AND len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
              / len(list_distinct(sa.shingles || sb.shingles)) >= {JACCARD_THRESHOLD}
    ), best AS (
      SELECT doc_new, doc_old, jaccard,
             COUNT(*) OVER (PARTITION BY doc_new) AS n_dups,
             ROW_NUMBER() OVER (PARTITION BY doc_new
                                ORDER BY jaccard DESC, doc_old) AS rn
      FROM scored
    )
    SELECT d.doc_id AS doc_new,
           CAST(COALESCE(b.n_dups, 0) AS BIGINT) AS n_dups,
           b.doc_old AS dup_of,
           b.jaccard AS jaccard,
           b.doc_old IS NULL AS is_new_content
    FROM documents d
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.doc_new = d.doc_id
    ORDER BY doc_new
    """,
)
def dedup_lsh_arrival_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRIVAL-ORDERED incremental near-dup dedup with a GROWING index —
    the bootstrap/backfill replay of a streaming ingest pipeline: docs
    arrive in doc_id order, each is checked against EVERY earlier doc
    (band-key candidates, exact-Jaccard verify), then inserted into the
    band index. Per doc: earlier-near-dup count, best earlier match
    (jaccard DESC, doc_id ASC), and the is_new_content admission
    verdict. ``dedup_incremental_lsh`` answers "may today's batch enter
    a frozen corpus"; this is the history-replay that BUILDS the
    standing index — and its arithmetic is what the per-trigger
    streaming maintenance (``lsh_ingest_step`` inside foreachBatch)
    accumulates, so the batch result is the ground truth the streaming
    path is tested against (the PH/CUSUM online-form convention, VERDICT
    r10 ask #4a). The pure-Python online twin is ``lsh_index_update``
    (chunking-invariant by property test).

    Determinism: shared md5 MinHash/band machinery (``_signatures`` /
    ``_band_rows`` / ``_SQL_BANDS``); Jaccard is an exact int ratio; the
    best pick is a (jaccard DESC, doc_id) total order.

    Scale shape: one banded self-equi-join with ``o.doc_id < n.doc_id``
    — candidates stay band-bucket-bounded exactly like dedup_minhash_lsh
    (never all-pairs); verification touches candidates only; the final
    window partitions by doc_new (tiny groups). Arrival order rides the
    doc_id total order, so no global sort is needed — the < predicate
    prunes inside each band bucket."""
    sig = _signatures(spark, sf_dir).localCheckpoint()
    return lsh_arrival_log(sig)


def lsh_arrival_log(sig: DataFrame) -> DataFrame:
    """Per-doc admission log over a whole signature frame under
    arrival-(doc_id)-order semantics: earlier = smaller doc_id. Pure
    function of its input; the registered replay query calls it on the
    full corpus and the streaming twin's accumulated per-trigger logs
    must equal it."""
    b = _band_rows(sig)
    nb = b.select(F.col("doc_id").alias("doc_new"), "band", "band_key")
    ob = b.select(F.col("doc_id").alias("doc_old"), "band", "band_key")
    cand = (
        nb.join(ob, ["band", "band_key"])
        .filter(F.col("doc_old") < F.col("doc_new"))
        .select("doc_new", "doc_old")
        .distinct()
    )
    return _admission_from_candidates(sig, sig, cand)


def lsh_ingest_step(batch_sig: DataFrame, standing_sig: DataFrame) -> DataFrame:
    """ONE trigger of the growing-index ingest: the batch probes the
    STANDING band index (strictly earlier by contract — no order
    predicate) plus its own earlier-in-batch rows (doc_id order within
    the trigger). The foreachBatch maintenance loop calls this, then
    appends the batch's signature/band rows to the standing table; the
    accumulated logs equal ``lsh_arrival_log`` over everything ingested
    (pinned in tests/test_streaming.py)."""
    bb = _band_rows(batch_sig)
    sb = _band_rows(standing_sig)
    nb = bb.select(F.col("doc_id").alias("doc_new"), "band", "band_key")
    cross = nb.join(
        sb.select(F.col("doc_id").alias("doc_old"), "band", "band_key"),
        ["band", "band_key"],
    )
    within = nb.join(
        bb.select(F.col("doc_id").alias("doc_old"), "band", "band_key"),
        ["band", "band_key"],
    ).filter(F.col("doc_old") < F.col("doc_new"))
    cand = (
        cross.unionByName(within).select("doc_new", "doc_old").distinct()
    )
    earlier = standing_sig.unionByName(batch_sig)
    return _admission_from_candidates(batch_sig, earlier, cand)


def _admission_from_candidates(
    new_sig: DataFrame, old_sig: DataFrame, cand: DataFrame
) -> DataFrame:
    """Shared verify+log tail of the frozen-corpus, arrival and ingest
    admission logs: exact-Jaccard verification of candidate pairs,
    per-new-doc best-match window, LEFT-JOIN admission log."""
    sa = new_sig.select(
        F.col("doc_id").alias("doc_new"), F.col("shingles").alias("sh_a")
    )
    sb = old_sig.select(
        F.col("doc_id").alias("doc_old"), F.col("shingles").alias("sh_b")
    )
    scored = (
        cand.join(sa, "doc_new")
        .join(sb, "doc_old")
        .filter((F.size("sh_a") > 0) & (F.size("sh_b") > 0))
        .select("doc_new", "doc_old", jaccard("sh_a", "sh_b").alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    wn = Window.partitionBy("doc_new")
    best = (
        scored.withColumn("n_dups", F.count("*").over(wn))
        .withColumn(
            "rn",
            F.row_number().over(wn.orderBy(F.desc("jaccard"), "doc_old")),
        )
        .filter(F.col("rn") == 1)
    )
    new_docs = new_sig.select(F.col("doc_id").alias("doc_new"))
    return (
        new_docs.join(best, "doc_new", "left")
        .select(
            "doc_new",
            F.coalesce(F.col("n_dups"), F.lit(0)).alias("n_dups"),
            F.col("doc_old").alias("dup_of"),
            "jaccard",
            F.col("doc_old").isNull().alias("is_new_content"),
        )
        .orderBy("doc_new")
    )


def lsh_state_zero() -> "tuple[dict, dict]":
    """Fresh empty index state for :func:`lsh_index_update` —
    ``(buckets, shingles)`` where buckets maps ``(band, band_key)`` to
    the doc_ids filed there and shingles maps doc_id to its shingle
    set. A factory (not a module constant) because the state is
    mutable — a shared zero would be silently corrupted by first use."""
    return ({}, {})


def _py_md5(s: str) -> str:
    import hashlib

    return hashlib.md5(s.encode("utf-8")).hexdigest()


def _py_shingles3(text: str) -> "frozenset[str]":
    """Python twin of ``word_shingles(lower(text), k=3)``: distinct
    3-word shingles of the ASCII-whitespace tokenization. Java's ``\\s``
    is the ASCII class ``[ \\t\\n\\x0B\\f\\r]`` — spelled out so the twin
    cannot drift onto Python's wider Unicode ``\\s`` (the ws_tokens
    deviation note); lowercasing matches on ASCII, the fixture domain."""
    import re

    toks = [t for t in re.split("[ \t\n\x0b\f\r]+", text.lower()) if t]
    if len(toks) < 3:
        return frozenset()
    return frozenset(" ".join(toks[i : i + 3]) for i in range(len(toks) - 2))


def _py_minhash_bands(shingles: "frozenset[str]") -> "list[tuple[int, str]]":
    """Python twin of minhash_signature + _band_rows: md5-rotation
    MinHash signature, band key = md5 of the contiguous signature
    slice. Empty shingle set -> no bands (the engine's null-band-key
    behavior: such docs are never candidates on either side)."""
    if not shingles:
        return []
    hexes = [_py_md5(s) for s in shingles]
    sig = [min(h[i:] + h[:i] for h in hexes) for i in range(NUM_HASHES)]
    per = NUM_HASHES // BANDS
    return [
        (b, _py_md5("".join(sig[b * per : (b + 1) * per])))
        for b in range(BANDS)
    ]


def lsh_index_update(state, docs):
    """Online LSH-index state transition — the STREAMING form of
    ``dedup_lsh_arrival_log``'s arithmetic (that query replays this
    ingest as one banded batch join; this function IS the per-trigger
    update a foreachBatch monitor keeps between micro-batches —
    the page_hinkley_update/cusum_update convention, VERDICT r10 ask
    #4a). ``docs`` is the next run of ``(doc_id, text)`` rows in
    arrival order; for each, the standing band index is probed,
    candidates are exact-Jaccard verified, the admission row is
    emitted, and the doc is filed into the index. MUTATES ``state`` in
    place (the index is the whole point) and returns ``(state, out)``
    with out rows ``(doc_new, n_dups, dup_of, jaccard,
    is_new_content)`` — byte-identical to the batch query's rows for
    the same arrival prefix, under any chunking
    (tests/test_lsh_arrival.py pins both properties)."""
    buckets, sh_idx = state
    out = []
    for doc_id, text in docs:
        sh = _py_shingles3(text)
        bands = _py_minhash_bands(sh)
        cand_ids = set()
        for bk in bands:
            cand_ids.update(buckets.get(bk, ()))
        matches = []
        if sh:
            for old in cand_ids:
                osh = sh_idx[old]
                if not osh:
                    continue
                j = len(sh & osh) / len(sh | osh)
                if j >= JACCARD_THRESHOLD:
                    matches.append((old, j))
        if matches:
            best_old, best_j = min(matches, key=lambda m: (-m[1], m[0]))
            out.append((doc_id, len(matches), best_old, best_j, False))
        else:
            out.append((doc_id, 0, None, None, True))
        for bk in bands:
            buckets.setdefault(bk, []).append(doc_id)
        if bands:
            sh_idx[doc_id] = sh
    return state, out


# --- content-defined chunking (CDC) shared-chunk detection ---------------

CDC_WINDOW = 8  # rolling fingerprint window (chars)
CDC_MASK = 64  # boundary when fp % 64 == 0 -> ~64-char expected chunks
CDC_TOP_K = 50
_SQL_CDC_FP = sql_md5_int(f"substr(text, pos, {CDC_WINDOW})", hex_digits=6)


@query(
    "cdc_chunk_dedup",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, text, unnest(range(1, len(text) - {CDC_WINDOW - 2})) AS pos
      FROM documents WHERE len(text) >= {CDC_WINDOW}
    ), bounds AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS s FROM p
      WHERE {_SQL_CDC_FP} % {CDC_MASK} = 0
      UNION
      SELECT doc_id, 1 AS s FROM documents WHERE len(text) >= {CDC_WINDOW}
    ), spans AS (
      SELECT b.doc_id, b.s,
             COALESCE(LEAD(b.s) OVER (PARTITION BY b.doc_id ORDER BY b.s),
                      len(d.text) + 1) - b.s AS chunk_len,
             d.text
      FROM bounds b JOIN documents d USING (doc_id)
    ), chunks AS (
      SELECT doc_id, md5(substr(text, s, chunk_len)) AS chunk_md5,
             chunk_len
      FROM spans WHERE chunk_len > 0
    ), shared AS (
      SELECT chunk_md5, MAX(chunk_len) AS chunk_len,
             COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ,
             MIN(doc_id) AS first_doc
      FROM chunks GROUP BY chunk_md5
    )
    SELECT chunk_md5, CAST(chunk_len AS BIGINT) AS chunk_len,
           CAST(n_docs AS BIGINT) AS n_docs, CAST(n_occ AS BIGINT) AS n_occ,
           first_doc
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY n_docs DESC, n_occ DESC,
                                       chunk_md5) AS rk
          FROM shared WHERE n_docs >= 2)
    WHERE rk <= {CDC_TOP_K}
    ORDER BY n_docs DESC, n_occ DESC, chunk_md5
    """,
)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (the FastCDC/LBFS shape used by
    dedup storage and by training-data pipelines to find SHIFTED shared
    content that fixed-offset shingles miss): a boundary is declared
    wherever the fingerprint of the 8-char window starting at a position
    ≡ 0 (mod 64) — so boundaries move WITH the content under insertions;
    chunks between boundaries are hashed and shared chunks (appearing in
    ≥2 distinct documents) are surfaced with their document reach.

    Determinism: the rolling fingerprint is md5 of the window (identical
    hex in both engines, 6-hex-digit prefix → int), boundaries and spans
    are pure integer arithmetic, chunk identity is md5 of the substring.

    Scale shape: position explosion is linear in corpus BYTES (the same
    pass a real CDC chunker makes); boundary detection is map-only; span
    assembly is a per-document window over the SKINNY ``(doc_id, s)``
    bounds table — 16-byte rows, so the window sort buffers ~len/64 tiny
    rows per document, never the text (joining ``text`` before the
    window would make each buffered row carry the full document:
    ~len²/64 bytes through the sort for one document — the shape
    ``tests/test_plans.py::test_cdc_window_input_is_skinny`` pins
    against). ``text`` joins back AFTER span assembly and the substring
    runs in a pipelined projection, never buffered. The cross-corpus
    shuffle moves only 16-byte chunk hashes, grouped map-side-
    combinably. Top-k is a rank over the ≥2-doc shared subset only. At
    100 TB the chunk table is the dedup store: new documents chunk
    independently and join against it incrementally — the same update
    path as ``dedup_incremental_lsh``. (The position explode
    materializes an int array per doc — ~8 bytes/char of transient heap,
    acceptable; a width-bounded generator would remove even that
    spike.)"""
    docs = spread(load(spark, sf_dir, "documents")).filter(
        F.length("text") >= CDC_WINDOW
    )
    p = docs.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(1), F.length("text") - (CDC_WINDOW - 1))).alias("pos"),
    )
    fp = md5_int(F.expr(f"substring(text, pos, {CDC_WINDOW})"), hex_digits=6)
    bounds = (
        p.filter(fp % CDC_MASK == 0)
        .select("doc_id", F.col("pos").cast("bigint").alias("s"))
        .union(docs.select("doc_id", F.lit(1).cast("bigint").alias("s")))
        .distinct()
    )
    w = Window.partitionBy("doc_id").orderBy("s")
    # lead() over the 16-byte (doc_id, s) rows FIRST; text joins back
    # after the window so the sort never buffers document bodies
    spans = (
        bounds.withColumn("nxt", F.lead("s").over(w))
        .join(docs.select("doc_id", "text"), "doc_id")
        .withColumn(
            "chunk_len",
            F.coalesce(F.col("nxt"), F.length("text").cast("bigint") + 1)
            - F.col("s"),
        )
        .filter(F.col("chunk_len") > 0)
    )
    chunks = spans.select(
        "doc_id",
        F.md5(F.expr("substring(text, s, chunk_len)")).alias("chunk_md5"),
        "chunk_len",
    )
    shared = (
        chunks.groupBy("chunk_md5")
        .agg(
            F.max("chunk_len").alias("chunk_len"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occ"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    return (
        shared.orderBy(F.desc("n_docs"), F.desc("n_occ"), "chunk_md5")
        .limit(CDC_TOP_K)
        .select("chunk_md5", "chunk_len", "n_docs", "n_occ", "first_doc")
        .orderBy(F.desc("n_docs"), F.desc("n_occ"), "chunk_md5")
    )


# --- benchmark decontamination (train x eval n-gram overlap) --------------

DECON_K = 5  # word n-gram size: the contamination unit (13 is the common
# LLM-eval standard; 5 fits the fixture's ~50-word documents)
DECON_DF_CAP = 10  # shingles present in more than this many documents are
# boilerplate, not evidence — excluded BEFORE the pair join so one hot
# n-gram can never create a quadratic candidate cluster


def decon_kept_postings(sh: DataFrame) -> DataFrame:
    """DF-capped shingle postings ``(doc_id, sh)`` from a ``(doc_id,
    shingles)`` frame — the decontamination index rows. Shared by
    ``benchmark_decontamination`` and the standing-index layout proof
    (tests/test_decon_index_layout.py): at 100 TB the TRAIN half of
    these rows is a materialized parquet table bucketed on ``sh``, and
    the daily eval sweep equi-joins it corpus-side shuffle-free — the
    ``dedup_incremental_lsh`` band-index deployment, proven the same
    way."""
    posts = sh.select("doc_id", F.explode("shingles").alias("s")).select(
        "doc_id", F.md5("s").alias("sh")
    )
    rare = (
        posts.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= DECON_DF_CAP)
        .select("sh")
    )
    return posts.join(rare, "sh")


def _sql_shingles_k(k: int) -> str:
    """DuckDB twin of ``word_shingles(col, k)`` reading a ``toks`` column
    (generalizes the module-level k=3 ``_SQL_SHINGLES``)."""
    return (
        f"list_distinct([array_to_string(toks[i:i+{k - 1}], ' ') "
        f"for i in range(1, greatest(len(toks) - {k - 1}, 0) + 1)])"
    )


@query(
    "benchmark_decontamination",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ), sh AS MATERIALIZED (
      SELECT doc_id, {_sql_shingles_k(DECON_K)} AS shingles FROM tok
    ), posts AS (
      SELECT doc_id, md5(s) AS sh
      FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
    ), dfc AS (
      SELECT sh FROM posts GROUP BY sh
      HAVING COUNT(DISTINCT doc_id) <= {DECON_DF_CAP}
    ), kept AS MATERIALIZED (
      SELECT p.doc_id, p.sh FROM posts p JOIN dfc USING (sh)
    ), pairs AS (
      SELECT e.doc_id AS doc_eval, t.doc_id AS doc_train,
             COUNT(*) AS n_shared
      FROM kept e JOIN kept t ON e.sh = t.sh
      WHERE e.doc_id % 10 = 7 AND t.doc_id % 10 <> 7
      GROUP BY 1, 2
    ), best AS (
      SELECT doc_eval, doc_train, n_shared,
             ROW_NUMBER() OVER (PARTITION BY doc_eval
                                ORDER BY n_shared DESC, doc_train) AS rn,
             COUNT(*) OVER (PARTITION BY doc_eval) AS n_train_matches
      FROM pairs
    )
    SELECT s.doc_id AS doc_id,
           CAST(len(s.shingles) AS BIGINT) AS n_shingles,
           CAST(COALESCE(b.n_train_matches, 0) AS BIGINT) AS n_train_matches,
           b.doc_train AS top_train_doc,
           CAST(b.n_shared AS BIGINT) AS top_shared,
           CASE WHEN b.n_shared IS NOT NULL AND len(s.shingles) > 0
                THEN b.n_shared::DOUBLE / len(s.shingles) END AS overlap_frac,
           b.n_shared IS NOT NULL AS contaminated
    FROM sh s LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
      ON b.doc_eval = s.doc_id
    WHERE s.doc_id % 10 = 7
    ORDER BY doc_id
    """,
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination audit — the eval-set hygiene pass every
    LLM training pipeline runs before releasing a model (the GPT-3 paper
    's 13-gram check; Dodge et al. 2021 on C4/benchmark overlap): treat
    docs with ``doc_id % 10 == 7`` as the held-out benchmark and report,
    per eval document, how many TRAIN documents share at least one
    distinct ``DECON_K``-word shingle, the single worst offender (most
    shared shingles, lowest doc_id tiebreak) and its overlap fraction of
    the eval doc's shingle set.

    The document-frequency cap (``DECON_DF_CAP``) drops shingles present
    in many documents before pairing: they are boilerplate, and at scale
    one hot n-gram would otherwise fan out to a near-quadratic candidate
    cluster (the same rare-feature blocking idea as
    ``dedup_containment``'s postings).

    Determinism: shingles are exact string sets; counts are integers;
    the only double is one int/int division (identical IEEE op in both
    engines); the top offender is a (n_shared DESC, doc_id) total order.

    Scale shape: postings are (16-byte md5, doc_id) rows; the DF cap is
    one map-side-combinable aggregate; the pair join is an equi-join on
    the capped shingle key whose fan-out is bounded by DF_CAP per
    shingle; per-eval aggregation is a groupBy with a struct-max (no
    window over data-sized input). At 100 TB the train postings table is
    a standing index — the daily eval sweep joins against it exactly
    like ``dedup_incremental_lsh``'s band index (the sh-bucketed layout
    and its shuffle-free corpus-side join are proven from parquet in
    tests/test_decon_index_layout.py)."""
    docs = spread(load(spark, sf_dir, "documents"))
    sh = docs.select(
        "doc_id", T.word_shingles(F.col("text"), k=DECON_K).alias("shingles")
    ).localCheckpoint()  # feeds postings AND the per-eval shingle counts
    kept = decon_kept_postings(sh)
    is_eval = F.col("doc_id") % 10 == 7
    ev = kept.filter(is_eval).select(F.col("doc_id").alias("doc_eval"), "sh")
    tr = kept.filter(~is_eval).select(F.col("doc_id").alias("doc_train"), "sh")
    pairs = ev.join(tr, "sh").groupBy("doc_eval", "doc_train").agg(
        F.count("*").alias("n_shared")
    )
    per = pairs.groupBy("doc_eval").agg(
        F.count("*").alias("n_train_matches"),
        F.max(
            F.struct(F.col("n_shared"), (-F.col("doc_train")).alias("neg_t"))
        ).alias("b"),
    )
    base = sh.filter(is_eval).select(
        "doc_id", F.size("shingles").cast("bigint").alias("n_shingles")
    )
    return (
        base.join(per, base.doc_id == per.doc_eval, "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_train_matches"), F.lit(0))
            .cast("bigint")
            .alias("n_train_matches"),
            (-F.col("b.neg_t")).cast("bigint").alias("top_train_doc"),
            F.col("b.n_shared").cast("bigint").alias("top_shared"),
            F.when(
                F.col("b.n_shared").isNotNull() & (F.col("n_shingles") > 0),
                F.col("b.n_shared").cast("double") / F.col("n_shingles"),
            ).alias("overlap_frac"),
            F.col("b.n_shared").isNotNull().alias("contaminated"),
        )
        .orderBy("doc_id")
    )


def _prefix_truth(sh2: DataFrame) -> DataFrame:
    """EXACT >= {JACCARD_THRESHOLD}-Jaccard ground-truth pairs from a
    nonempty-shingle frame ``(doc_id, shingles, sz)`` via the
    prefix-filter principle + PPJoin length filter (see
    ``lsh_recall_eval``'s docstring for the completeness argument;
    property-tested against all-pairs brute force in
    tests/test_lsh_prefix_property.py). Factored so ``lsh_recall_eval``
    (one config's acceptance row) and ``lsh_band_sweep`` (the config
    grid) share one truth side that cannot drift."""
    posts = sh2.select("doc_id", "sz", F.explode("shingles").alias("shingle"))
    dfreq = posts.groupBy("shingle").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    pfx = (
        posts.join(dfreq, "shingle")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= F.expr("sz div 5") + 1)
        .select("doc_id", "sz", "shingle")
    )
    # Both sides of the prefix self-join are DataFrame aliases of the one
    # pfx frame, so their shuffles are identical and AQE reuses one
    # (ReusedExchange): the posts-explode + df join + per-doc window run
    # once with no materialization. Renaming the columns on each side
    # instead defeats the reuse, and a checkpointed pfx runs the truth
    # side serially ahead of the band side (lsh_recall_eval at sf0.1,
    # local[4]: 1.5-1.8 s this way, 2.5-2.6 s checkpointed).
    a, b = pfx.alias("a"), pfx.alias("b")
    tcand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (5 * F.col("a.sz") >= 4 * F.col("b.sz"))
            & (5 * F.col("b.sz") >= 4 * F.col("a.sz")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return (
        pair_sides(tcand, sh2, ["shingles"])
        .filter(jaccard("shingles_a", "shingles_b") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )


# LSH-acceptance gate literal: the signature config (NUM_HASHES=8,
# BANDS=2 -> P(candidate | J) = 1-(1-J^4)^2, i.e. ~0.65 at J=0.8 but
# ~1.0 as J -> 1) must recover at least this fraction of the TRUE
# >=0.8-Jaccard pairs on the corpus under eval. Shared literal between
# engines and with the reconciliation test.
LSH_MIN_RECALL = "0.6"

_TRUTH_PAIRS_SQL = f"""
    posts AS (
      SELECT doc_id, sz, unnest(shingles) AS shingle FROM sh2
    ), dfreq AS (
      SELECT shingle, COUNT(*) AS df FROM posts GROUP BY shingle
    ), pfx AS (
      SELECT doc_id, sz, shingle FROM (
        SELECT p.doc_id, p.sz, p.shingle,
               ROW_NUMBER() OVER (PARTITION BY p.doc_id
                                  ORDER BY d.df, p.shingle) AS rk
        FROM posts p JOIN dfreq d USING (shingle)
      ) WHERE rk <= sz // 5 + 1
    ), tcand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pfx a JOIN pfx b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       AND 5 * a.sz >= 4 * b.sz AND 5 * b.sz >= 4 * a.sz
    ), truth AS (
      SELECT c.doc_a, c.doc_b
      FROM tcand c
      JOIN sh2 sa ON sa.doc_id = c.doc_a
      JOIN sh2 sb ON sb.doc_id = c.doc_b
      WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
              / len(list_distinct(sa.shingles || sb.shingles))
              >= {JACCARD_THRESHOLD}
    )"""


@query(
    "lsh_recall_eval",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ), sh AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM tok
    ), sh2 AS (
      SELECT doc_id, shingles, len(shingles) AS sz FROM sh
      WHERE len(shingles) > 0
    ), {_TRUTH_PAIRS_SQL},
    sig AS (
      SELECT doc_id, shingles, {_SQL_SIG} FROM sh
    ), bands AS (
    {_SQL_BANDS}
    ), lcand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id
    ), lpairs AS (
      SELECT c.doc_a, c.doc_b
      FROM lcand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b
      WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
              / len(list_distinct(sa.shingles || sb.shingles))
              >= {JACCARD_THRESHOLD}
    ), tn AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs FROM truth
    ), cn AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_lsh_candidates FROM lcand
    ), vn AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_lsh_pairs FROM lpairs
    )
    SELECT tn.n_true_pairs, cn.n_lsh_candidates, vn.n_lsh_pairs,
           CASE WHEN tn.n_true_pairs = 0 THEN NULL
                ELSE vn.n_lsh_pairs::DOUBLE / tn.n_true_pairs END AS recall,
           CASE WHEN cn.n_lsh_candidates = 0 THEN NULL
                ELSE vn.n_lsh_pairs::DOUBLE / cn.n_lsh_candidates
                END AS candidate_precision,
           CASE WHEN tn.n_true_pairs = 0 THEN NULL
                ELSE vn.n_lsh_pairs::DOUBLE / tn.n_true_pairs
                       >= {LSH_MIN_RECALL} END AS lsh_ok
    FROM tn CROSS JOIN cn CROSS JOIN vn
    """,
)
def lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH ACCEPTANCE ROW — the dedup-family capstone
    (the analogue of ``retrieval_eval_suite`` for the near-dup
    pipeline): measure the banded LSH candidate generator against
    EXACT ground truth and emit the one go/no-go row a pipeline gates
    an LSH config swap on.

    Ground truth is every pair with true shingle-Jaccard >=
    {JACCARD_THRESHOLD}, generated COMPLETELY (no approximation) by
    the prefix-filter principle (Chaudhuri et al. SSJoin / Xiao et al.
    PPJoin): order the shingle universe by (document frequency,
    shingle) — a global total order — and index only each doc's first
    ``sz div 5 + 1`` shingles (= sz - ceil(0.8*sz) + 1, integer-exact
    in both engines); any pair with J >= 0.8 provably shares a prefix
    shingle (the first common shingle in the global order sits within
    both prefixes), so prefix-postings equi-join + exact verify loses
    nothing. The PPJoin length filter (5*min_sz >= 4*max_sz, a J>=0.8
    necessity) prunes impossible candidates before the verify join.

    Metrics: recall = verified LSH pairs / true pairs (LSH verify uses
    the same exact Jaccard, so LSH pairs are a subset of truth and
    recall <= 1 structurally); candidate_precision = verified / band
    candidates (the verify-cost readout); lsh_ok gates recall >=
    {LSH_MIN_RECALL}. Expected recall is the banding S-curve
    1-(1-J^4)^2 averaged over the true-pair J distribution — near-1
    on near-identical dup corpora, ~0.65 at the J=0.8 boundary.

    Determinism: counts are exact integers; recall/precision are one
    double division each; the gate compares that double to a shared
    literal; empty corpus -> 0-count rows -> NULL metrics and a NULL
    (no-decision) verdict via identical CASE/three-valued logic.

    Scale shape: ONE shingle+signature pass (the checkpointed
    ``_signatures`` frame feeds prefix ranking, band join, and both
    verify joins); document-frequency is a map-side-combinable
    groupBy(shingle); prefix rank is a doc_id-partitioned window
    (never single-partition); both candidate joins are equi-joins on
    short postings (band keys / globally-rare prefix shingles); the
    final assembly crosses the truth count with one broadcast 1-row
    aggregate of candidate and verified counts.
    Prefix postings are frequency-ordered so their lengths shrink as
    the corpus grows (the PPJoin argument); a pathological
    shared-prefix corpus degrades the TRUTH side only — the LSH side
    under eval stays banded."""
    sig = _signatures(spark, sf_dir).localCheckpoint()
    sh = sig.select("doc_id", "shingles", F.size("shingles").alias("sz"))
    sh2 = sh.filter(F.col("sz") > 0)
    truth = _prefix_truth(sh2)
    # ---- the system under eval: band candidates + exact verify, the
    # candidate count and the verified count in one aggregate over the
    # ``_cand_jaccard`` pass
    cv = _cand_jaccard(sig).agg(
        F.count("*").alias("n_lsh_candidates"),
        F.count(F.when(F.col("jaccard") >= JACCARD_THRESHOLD, 1)).alias(
            "n_lsh_pairs"
        ),
    )
    tn = truth.agg(F.count("*").alias("n_true_pairs"))
    no_truth = F.col("n_true_pairs") == 0
    recall = F.col("n_lsh_pairs").cast("double") / F.col("n_true_pairs")
    return (
        tn.crossJoin(F.broadcast(cv))
        .select(
            "n_true_pairs",
            "n_lsh_candidates",
            "n_lsh_pairs",
            F.when(no_truth, F.lit(None).cast("double"))
            .otherwise(recall)
            .alias("recall"),
            F.when(F.col("n_lsh_candidates") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.col("n_lsh_pairs").cast("double") / F.col("n_lsh_candidates")
            )
            .alias("candidate_precision"),
            F.when(no_truth, F.lit(None).cast("boolean"))
            .otherwise(recall >= float(LSH_MIN_RECALL))
            .alias("lsh_ok"),
        )
    )


# --- dedup release gate (suite-composition capstone) -----------------------

# Gate thresholds — shared literals so the comparisons are the same IEEE
# chain in both engines. Real curation-pipeline defaults (the sf fixture
# passes all four; the deny and no-decision branches are exercised on
# crafted corpora in tests/test_dedup_release_gate.py):
DEDUP_GATE_MIN_PRECISION = "0.2"  # >=1 in 5 band candidates must verify
# (lower means the banding wastes verify compute — a config smell)
DEDUP_GATE_MAX_NEARDUP = "0.2"  # <=20% of docs dropped as near-dups
# (above that the snapshot smells of an ingestion/crawl loop bug)
DEDUP_GATE_MAX_CLUSTER = "64"  # no dup cluster may exceed 64 docs (a
# giant cluster usually means boilerplate shingles or a degenerate band)


def _dedup_gate_oracle() -> str:
    # Compose the legs' REGISTERED oracles verbatim (the
    # corpus_release_gate convention) — the gate can never drift from
    # what the correctness gate certifies leg by leg. Both legs are
    # registered ABOVE in this module, so ORACLES already has them.
    from bigdata_2025_1_spark.registry import ORACLES as _O

    return f"""
    WITH lr AS (
      SELECT n_true_pairs, recall AS lsh_recall, candidate_precision, lsh_ok
      FROM ({_O["lsh_recall_eval"]})
    ), cd AS (
      SELECT * FROM ({_O["canonical_doc_per_cluster"]})
    ), drops AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN NOT is_keeper THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_dropped
      FROM cd
    ), sizes AS (
      SELECT MAX(csz) AS max_raw
      FROM (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS csz
            FROM cd GROUP BY cluster_id)
    ), nd AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
    ), vals AS (
      SELECT nd.n_docs, lr.n_true_pairs, lr.lsh_recall,
             lr.candidate_precision, lr.lsh_ok,
             CASE WHEN nd.n_docs > 0
                  THEN drops.n_dropped::DOUBLE / nd.n_docs END AS near_dup_rate,
             CASE WHEN nd.n_docs > 0
                  THEN CAST(COALESCE(sizes.max_raw, 0) AS BIGINT)
             END AS max_cluster_size
      FROM nd CROSS JOIN lr CROSS JOIN drops CROSS JOIN sizes
    ), oks AS (
      SELECT n_docs, n_true_pairs, lsh_recall, candidate_precision,
             near_dup_rate, max_cluster_size,
             CASE WHEN n_docs = 0 THEN NULL
                  WHEN lsh_ok IS NULL THEN TRUE
                  ELSE lsh_ok END AS ok_recall,
             CASE WHEN n_docs = 0 THEN NULL
                  WHEN candidate_precision IS NULL THEN TRUE
                  ELSE candidate_precision >= {DEDUP_GATE_MIN_PRECISION}
             END AS ok_precision,
             near_dup_rate <= {DEDUP_GATE_MAX_NEARDUP} AS ok_neardup,
             max_cluster_size <= {DEDUP_GATE_MAX_CLUSTER} AS ok_blowup
      FROM vals
    )
    SELECT n_docs, n_true_pairs, lsh_recall, candidate_precision,
           near_dup_rate, max_cluster_size,
           ok_recall, ok_precision, ok_neardup, ok_blowup,
           (ok_recall AND ok_precision AND ok_neardup AND ok_blowup)
             AS dedup_ok
    FROM oks
    """


@query("dedup_release_gate", oracle=_dedup_gate_oracle())
def dedup_release_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup pipeline's RELEASE DECISION, in one row — the
    dedup-family suite capstone (the ``corpus_release_gate`` convention
    applied to the LSH config + its downstream keep/drop outcome).
    Composes, by CALLING the registered queries so the gate can never
    drift from what the correctness gate certifies leg by leg:

    - ``lsh_recall_eval``           -> lsh_recall (gate: its own
      ``lsh_ok``, recall >= {LSH_MIN_RECALL}) and candidate_precision
      (gate: >= {DEDUP_GATE_MIN_PRECISION} — the verify-cost guard)
    - ``canonical_doc_per_cluster`` -> near_dup_rate = non-keepers /
      corpus size (gate: <= {DEDUP_GATE_MAX_NEARDUP}) and
      max_cluster_size (gate: <= {DEDUP_GATE_MAX_CLUSTER} — the
      boilerplate-blowup guard)

    ``dedup_ok`` is the conjunction. Every sub-scalar is reconciled
    against its standalone query by tests/test_dedup_release_gate.py.

    Null semantics (identical three-valued logic in both engines): an
    EMPTY corpus yields NULL metrics and a NULL (unknown) dedup_ok — a
    no-decision, not a pass. A NON-empty corpus with zero true near-dup
    pairs passes the recall leg vacuously (nothing to miss), and zero
    band candidates passes the precision leg vacuously (no wasted
    verifies) — a clean corpus must release.

    Scale shape: both legs are already scale-audited standalone (the
    prefix-filter truth side, banded candidates, diameter-bounded CC).
    The canonical-doc leg folds its per-cluster sizes and non-keeper
    count into one row inside the leg, so no cluster-member-sized frame
    is materialized. Both legs read ``_signatures``; the gate shares it,
    so it pays the signature pass once."""
    return release_gate(
        [
            lambda: lsh_recall_eval(spark, sf_dir).select(
                "n_true_pairs",
                F.col("recall").alias("lsh_recall"),
                "candidate_precision",
                "lsh_ok",
            ),
            lambda: canonical_doc_per_cluster(spark, sf_dir)
            .groupBy("cluster_id")
            .agg(
                F.count("*").cast("bigint").alias("csz"),
                F.sum(F.when(~F.col("is_keeper"), 1).otherwise(0)).alias("nk"),
            )
            .agg(
                F.max("csz").alias("max_raw"),
                F.coalesce(F.sum("nk"), F.lit(0)).cast("bigint").alias("n_dropped"),
            ),
            lambda: load(spark, sf_dir, "documents").agg(
                F.count("*").cast("bigint").alias("n_docs")
            ),
        ],
        derived={
            "near_dup_rate": ratio("n_dropped", "n_docs"),
            "max_cluster_size": F.when(
                F.col("n_docs") > 0,
                F.coalesce(F.col("max_raw"), F.lit(0)).cast("bigint"),
            ),
        },
        out=[
            "n_docs",
            "n_true_pairs",
            "lsh_recall",
            "candidate_precision",
            "near_dup_rate",
            "max_cluster_size",
        ],
        verdicts={
            "ok_recall": F.when(F.col("lsh_ok").isNull(), F.lit(True)).otherwise(
                F.col("lsh_ok")
            ),
            "ok_precision": F.when(
                F.col("candidate_precision").isNull(), F.lit(True)
            ).otherwise(
                F.col("candidate_precision") >= float(DEDUP_GATE_MIN_PRECISION)
            ),
            "ok_neardup": F.col("near_dup_rate") <= float(DEDUP_GATE_MAX_NEARDUP),
            "ok_blowup": F.col("max_cluster_size") <= int(DEDUP_GATE_MAX_CLUSTER),
        },
        ok="dedup_ok",
        empty=F.col("n_docs") == 0,
        shared=[_signatures(spark, sf_dir)],
    )


# --- LSH banding-config sweep ----------------------------------------------

# Every banding of the 8-hash signature into b bands of r rows (b*r = 8):
# the config grid an LSH deployment chooses from. P(candidate | J) =
# 1 - (1 - J^r)^b; the deployed config is (BANDS, NUM_HASHES // BANDS).
SWEEP_CONFIGS: "tuple[tuple[int, int], ...]" = tuple(
    (b, NUM_HASHES // b) for b in (1, 2, 4, 8)
)


def _sweep_oracle() -> str:
    blocks = []
    selects = []
    for b, r in SWEEP_CONFIGS:
        p_cand = 1.0 - (1.0 - float(JACCARD_THRESHOLD) ** r) ** b
        blocks.append(
            f"""bands{b} AS (
      {_sql_bands_for(b)}
    ), cand{b} AS (
      SELECT DISTINCT a.doc_id AS doc_a, x.doc_id AS doc_b
      FROM bands{b} a JOIN bands{b} x
        ON a.band = x.band AND a.band_key = x.band_key
      WHERE a.doc_id < x.doc_id
    ), ver{b} AS (
      SELECT c.doc_a, c.doc_b
      FROM cand{b} c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b
      WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
              / len(list_distinct(sa.shingles || sb.shingles))
              >= {JACCARD_THRESHOLD}
    )"""
        )
        selects.append(
            f"""SELECT {b} AS bands, {r} AS rows_per_band,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cand{b}) AS n_candidates,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM ver{b}) AS n_verified,
             CAST({p_cand!r} AS DOUBLE) AS p_cand_at_thresh"""
        )
    union = "\n      UNION ALL\n      ".join(selects)
    # ONE f-string substitution pass (no .format() over already-
    # interpolated parts): a curly brace anywhere in the fragments or
    # the band SQL can never raise KeyError at import time.
    return f"""
    WITH tok AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ), sh AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM tok
    ), sh2 AS (
      SELECT doc_id, shingles, len(shingles) AS sz FROM sh
      WHERE len(shingles) > 0
    ), {_TRUTH_PAIRS_SQL},
    sig AS (
      SELECT doc_id, shingles, {_SQL_SIG} FROM sh
    ), {', '.join(blocks)},
    tn AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs FROM truth
    ), grid AS (
      {union}
    )
    SELECT g.bands, g.rows_per_band, tn.n_true_pairs, g.n_candidates,
           g.n_verified,
           CASE WHEN tn.n_true_pairs = 0 THEN NULL
                ELSE g.n_verified::DOUBLE / tn.n_true_pairs END AS recall,
           g.p_cand_at_thresh
    FROM grid g CROSS JOIN tn
    ORDER BY g.bands
    """


@query("lsh_band_sweep", oracle=_sweep_oracle())
def lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH banding TUNING TABLE — the dedup twin of
    ``ivf_nprobe_recall_curve``: for every banding of the 8-hash
    signature (1x8, 2x4, 4x2, 8x1), the measured candidate count,
    verified-pair count, exact recall against the shared prefix-filter
    ground truth (``_prefix_truth`` — the SAME truth side
    ``lsh_recall_eval`` gates on, factored so the two cannot drift),
    and the theoretical S-curve candidate probability at the
    {JACCARD_THRESHOLD} threshold (1-(1-J^r)^b, a shared literal). Read
    it as recall-vs-verify-cost: more bands -> higher recall AND more
    candidates to verify; the deployed (2, 4) row reconciles exactly
    with ``lsh_recall_eval``'s counts (pinned in
    tests/test_lsh_band_sweep.py).

    Determinism: the same md5 MinHash rotation machinery for every
    config (band key = md5 of the contiguous signature slice); counts
    exact ints; recall one double division; the theoretical column is
    the same Python float64 literal in both engines. Empty corpus ->
    four rows with 0 counts and NULL recall.

    Scale shape: ONE signature pass feeds ONE band self-equi-join — the
    finest (8x1) banding's candidate set is a superset of every coarser
    config's (slice agreement implies sub-band agreement), so all four
    configs reduce to membership flags over that single candidate frame
    (never all-pairs). The truth side is the prefix-filter machinery
    already scale-audited in ``lsh_recall_eval``; assembly explodes a
    4-struct array out of one aggregate row cross-joined with one
    broadcast scalar."""
    sig = _signatures(spark, sf_dir).localCheckpoint()
    sh = sig.select("doc_id", "shingles", F.size("shingles").alias("sz"))
    sh2 = sh.filter(F.col("sz") > 0)
    # ONE band self-join for all four configs (the 8x1 superset, see
    # above); a config's membership is signature-slice equality (its
    # band_key is the md5 of the fixed-width slice, so key equality <=>
    # slice equality).
    cand8 = band_pairs(_band_rows(sig, 8), "doc_id")

    def member(bands_n: int) -> F.Column:
        per = NUM_HASHES // bands_n
        eq = [F.col("sig_a")[i] == F.col("sig_b")[i] for i in range(NUM_HASHES)]
        return reduce(
            or_,
            (reduce(and_, eq[b * per : (b + 1) * per]) for b in range(bands_n)),
        )

    # Candidate counts per config: membership flags over the superset
    # pairs need only the SIGNATURES (8 fixed-width md5 strings), never
    # the shingle arrays — no per-pair jaccard here.
    cflags = pair_sides(cand8, sig, ["sig"]).select(
        *[member(b).alias(f"m{b}") for b, _ in SWEEP_CONFIGS],
    )
    c_counts = cflags.agg(
        *[
            F.coalesce(F.sum(F.col(f"m{b}").cast("long")), F.lit(0))
            .cast("bigint")
            .alias(f"c{b}")
            for b, _ in SWEEP_CONFIGS
        ],
    )
    # Verified counts per config: the truth side is COMPLETE (the
    # prefix-filter guarantee) and config verify applies the SAME exact
    # jaccard, so verified(config) == truth-pairs that the config
    # banding admits — flag the (tiny) truth pair set instead of
    # re-verifying the far larger superset candidate set, whose jaccard
    # verify would be the sweep's dominant stage. n_true_pairs rides the
    # same aggregate.
    truth_flags = pair_sides(_prefix_truth(sh2), sig, ["sig"]).select(
        *[member(b).alias(f"m{b}") for b, _ in SWEEP_CONFIGS]
    )
    v_counts = truth_flags.agg(
        F.count("*").cast("bigint").alias("n_true_pairs"),
        *[
            F.coalesce(F.sum(F.col(f"m{b}").cast("long")), F.lit(0))
            .cast("bigint")
            .alias(f"v{b}")
            for b, _ in SWEEP_CONFIGS
        ],
    )
    counts = c_counts.crossJoin(F.broadcast(v_counts))
    # the 4-row grid explodes out of the ONE aggregate row (a union of
    # four selects over it would re-run the whole candidate pipeline
    # once per config)
    grid = counts.select(
        "n_true_pairs",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("int").alias("bands"),
                        F.lit(r).cast("int").alias("rows_per_band"),
                        F.col(f"c{b}").alias("n_candidates"),
                        F.col(f"v{b}").alias("n_verified"),
                        F.lit(
                            1.0 - (1.0 - float(JACCARD_THRESHOLD) ** r) ** b
                        )
                        .cast("double")
                        .alias("p_cand_at_thresh"),
                    )
                    for b, r in SWEEP_CONFIGS
                ]
            )
        ).alias("cfg")
    ).select("n_true_pairs", "cfg.*")
    return (
        grid
        .select(
            "bands",
            "rows_per_band",
            "n_true_pairs",
            "n_candidates",
            "n_verified",
            F.when(
                F.col("n_true_pairs") > 0,
                F.col("n_verified").cast("double") / F.col("n_true_pairs"),
            ).alias("recall"),
            "p_cand_at_thresh",
        )
        .orderBy("bands")
    )
