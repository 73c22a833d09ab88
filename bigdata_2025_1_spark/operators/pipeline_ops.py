"""Training-data pipeline operators (charter extension): deterministic
train/test splitting, quality filtering, sequence packing, inverted index,
TF-IDF — the ops a 100 TB LLM-corpus build actually runs, each with a
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_2025_1_spark.functions import text as T
from bigdata_2025_1_spark.functions.hashing import md5_int, sql_md5_int
from bigdata_2025_1_spark.functions.overlap import ratio, release_gate
from bigdata_2025_1_spark.functions.pairs import jaccard
from bigdata_2025_1_spark.io import load, spread
from bigdata_2025_1_spark.registry import query

# Knuth multiplicative constant, kept < 2^31 so id*PRIME stays far inside
# int64 (ANSI mode would error on overflow — by design, not silently wrap).
_SPLIT_PRIME = 2654435761 % (2**31)
CONTEXT_TOKENS = 512


@query(
    "train_test_split",
    oracle=f"""
    WITH tagged AS (
      SELECT doc_id, source,
             (doc_id * {_SPLIT_PRIME}) % 100 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'valid'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT source) AS n_sources
    FROM tagged
    GROUP BY 1
    ORDER BY split
    """,
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split via multiplicative hashing of the doc
    id — reproducible across runs/engines/cluster sizes, no RNG state. The
    property that matters at scale: membership is a pure function of the
    key, so re-runs and backfills land every doc in the same split."""
    docs = load(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * _SPLIT_PRIME) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "source")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("split")
    )


@query(
    "corpus_quality_filter",
    oracle="""
    WITH feat AS (
      SELECT doc_id, source,
             LENGTH(text) AS n_chars,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')) AS n_tokens,
             LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha
      FROM documents
    ), decided AS (
      SELECT source, n_tokens,
             (n_chars BETWEEN 100 AND 20000
              AND n_tokens >= 20
              AND alpha::DOUBLE / n_chars > 0.5) AS keep
      FROM feat WHERE n_chars > 0
    )
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (keep) AS n_kept,
           CAST(SUM(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
    FROM decided
    GROUP BY source
    ORDER BY source
    """,
)
def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style quality gate: length window + token floor + alpha ratio;
    reports kept docs/tokens per source. One pass, filter fused into the
    aggregate (no materialized intermediate)."""
    docs = spread(load(spark, sf_dir, "documents")).filter(F.length("text") > 0)
    q = T.quality_features(F.col("text"))
    keep = (
        q["n_chars"].between(100, 20000)
        & (q["n_tokens"] >= 20)
        & (q["alpha_ratio"] > 0.5)
    )
    return (
        docs.select("source", q["n_tokens"].alias("n_tokens"), keep.alias("keep"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_if(F.col("keep")).alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("n_tokens")).otherwise(0)).alias(
                "tokens_kept"
            ),
        )
        .orderBy("source")
    )


@query(
    "sequence_packing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT doc_id, source, n_tokens,
             CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)
                        / {CONTEXT_TOKENS}) AS BIGINT) AS pack_id
      FROM toks WHERE n_tokens > 0
    )
    SELECT source, pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
    FROM packed
    GROUP BY source, pack_id
    ORDER BY source, pack_id
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: assign docs (per source, in
    deterministic doc_id order) to ~512-token context windows via a
    running token sum — a window cumsum, not a sequential driver loop, so
    it scales with partitions of the group key."""
    docs = spread(load(spark, sf_dir, "documents"))
    n_tokens = F.size(T.ws_tokens(F.col("text")))
    toks = docs.select("doc_id", "source", n_tokens.alias("n_tokens")).filter(
        F.col("n_tokens") > 0
    )
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    pack_id = F.floor((F.sum("n_tokens").over(w) - 1) / CONTEXT_TOKENS).cast("bigint")
    return (
        toks.withColumn("pack_id", pack_id)
        .groupBy("source", "pack_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("pack_tokens"))
        .orderBy("source", "pack_id")
    )


@query(
    "inverted_index",
    oracle="""
    WITH tokens AS (
      SELECT DISTINCT doc_id,
             unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '')) AS word
      FROM documents
    ), df AS (
      SELECT word, list_sort(list(doc_id)) AS postings, COUNT(*) AS doc_freq
      FROM tokens GROUP BY word
    )
    SELECT word, doc_freq, array_to_string(postings[1:20], '|') AS top_postings
    FROM df
    ORDER BY doc_freq DESC, word
    LIMIT 30
    """,
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index: word → sorted posting list (truncated to 20 ids
    for output sanity) + document frequency. Explode → distinct →
    collect_list; at 100 TB the posting lists would be written bucketed
    by word rather than collected. The posting list is emitted
    '|'-joined — the driver's pandas canonicalizer cannot hash raw list
    cells; ``doc_freq`` still carries the scalar signal."""
    docs = spread(load(spark, sf_dir, "documents"))
    tokens = docs.select(
        "doc_id", F.explode(T.ws_tokens(F.lower(F.col("text")))).alias("word")
    ).distinct()
    postings = F.slice(F.array_sort(F.collect_list("doc_id")), 1, 20)
    return (
        tokens.groupBy("word")
        .agg(
            F.count("*").alias("doc_freq"),
            F.array_join(F.transform(postings, lambda x: x.cast("string")), "|").alias(
                "top_postings"
            ),
        )
        .orderBy(F.desc("doc_freq"), "word")
        .limit(30)
    )


@query(
    "tfidf_top_terms",
    oracle="""
    WITH tokens AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '')) AS word
      FROM documents
    ), tf AS (
      SELECT doc_id, word, COUNT(*) AS tf FROM tokens GROUP BY doc_id, word
    ), df AS (
      SELECT word, COUNT(*) AS doc_freq FROM (SELECT DISTINCT doc_id, word FROM tokens) GROUP BY word
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    )
    SELECT tf.doc_id, tf.word,
           ROUND(CAST(tf.tf AS DOUBLE) * ln(n.n_docs::DOUBLE / df.doc_freq), 6) AS tfidf
    FROM tf JOIN df USING (word) CROSS JOIN n
    WHERE tf.doc_id < 10 AND ln(n.n_docs::DOUBLE / df.doc_freq) > 0
    ORDER BY doc_id, tfidf DESC, word
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: term frequency per doc × inverse document frequency
    (restricted to 10 docs for output size). The df table is small →
    broadcast back onto the exploded tf relation; ln on a single exact
    division keeps doubles engine-stable."""
    docs = spread(load(spark, sf_dir, "documents"))
    tokens = docs.select(
        "doc_id", F.explode(T.ws_tokens(F.lower(F.col("text")))).alias("word")
    )
    tf = tokens.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df = tokens.distinct().groupBy("word").agg(F.count("*").alias("doc_freq"))
    # n_docs as a 1-row broadcast aggregate (mirrors the oracle's CROSS
    # JOIN n) — no driver-side action, no second corpus scan.
    n = docs.agg(F.count("*").alias("n_docs"))
    idf = F.log(F.col("n_docs").cast("double") / F.col("doc_freq"))
    return (
        tf.filter(F.col("doc_id") < 10)
        .join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(n))
        .withColumn("idf", idf)
        .filter(F.col("idf") > 0)
        .select(
            "doc_id",
            "word",
            # ln() differs by 1 ulp between libm implementations — round to
            # 6 dp on both sides (the one place bit-exactness is impossible)
            F.round(F.col("tf").cast("double") * F.col("idf"), 6).alias("tfidf"),
        )
        .orderBy("doc_id", F.desc("tfidf"), "word")
    )


_E2E_ORACLE = f"""
WITH feat AS (
  SELECT doc_id, source, text,
         LENGTH(text) AS n_chars,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')) AS n_tokens,
         LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha
  FROM documents WHERE LENGTH(text) > 0
), kept AS (
  SELECT doc_id, source, text, n_tokens FROM feat
  WHERE n_chars BETWEEN 100 AND 20000 AND n_tokens >= 20
    AND alpha::DOUBLE / n_chars > 0.5
), exact_survivors AS (
  SELECT doc_id, source, text, n_tokens FROM (
    SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
    FROM kept
  ) WHERE doc_id = keeper
), tok AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t <> '') AS toks
  FROM exact_survivors
), sh AS (
  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
                                for i in range(1, greatest(len(toks) - 2, 0) + 1)]) AS shingles
  FROM tok
), sig AS (
  SELECT doc_id, shingles,
         list_min([md5(s) for s in shingles]) AS mh0,
         list_min([substr(md5(s), 2) || substr(md5(s), 1, 1) for s in shingles]) AS mh1,
         list_min([substr(md5(s), 3) || substr(md5(s), 1, 2) for s in shingles]) AS mh2,
         list_min([substr(md5(s), 4) || substr(md5(s), 1, 3) for s in shingles]) AS mh3
  FROM sh
), cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.shingles AS sa, b.shingles AS sb
  FROM sig a JOIN sig b
    ON md5(a.mh0 || a.mh1 || a.mh2 || a.mh3) = md5(b.mh0 || b.mh1 || b.mh2 || b.mh3)
   AND a.doc_id < b.doc_id
), near_dropped AS (
  SELECT DISTINCT doc_b AS doc_id FROM cand
  WHERE len(list_intersect(sa, sb))::DOUBLE / len(list_distinct(sa || sb)) >= 0.8
), final AS (
  SELECT e.doc_id, e.source, e.n_tokens,
         (e.doc_id * {_SPLIT_PRIME}) % 100 AS bucket
  FROM exact_survivors e
  WHERE e.doc_id NOT IN (SELECT doc_id FROM near_dropped)
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'valid'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       COUNT(DISTINCT source) AS n_sources
FROM final
GROUP BY 1
ORDER BY split
"""


@query("corpus_end_to_end", oracle=_E2E_ORACLE)
def corpus_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-corpus pipeline as ONE composed plan:
    quality gate → exact dedup (md5 keeper) → near-dup removal (4-hash
    MinHash, single band, exact-Jaccard ≥ 0.8, drop the larger id) →
    deterministic train/valid/test split → per-split doc/token stats.

    Each stage is the operator proven individually elsewhere; this query
    is the composition a real user runs nightly — lazily planned end to
    end, so Catalyst fuses the projections and the only shuffles are the
    dedup window, the band join, and the final aggregate."""
    docs = spread(load(spark, sf_dir, "documents")).filter(F.length("text") > 0)
    q = T.quality_features(F.col("text"))
    kept = docs.select(
        "doc_id", "source", "text", q["n_tokens"].alias("n_tokens")
    ).filter(
        q["n_chars"].between(100, 20000)
        & (q["n_tokens"] >= 20)
        & (q["alpha_ratio"] > 0.5)
    )
    w = Window.partitionBy(F.md5("text"))
    exact_survivors = (
        kept.withColumn("keeper", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("keeper"))
        .drop("keeper")
    )
    sig = exact_survivors.select(
        "doc_id",
        T.word_shingles(F.col("text"), 3).alias("shingles"),
    ).select(
        "doc_id",
        "shingles",
        T.minhash_signature(F.col("shingles"), 4).alias("sig"),
    ).localCheckpoint()
    band_key = F.md5(F.concat(*[F.col("sig")[i] for i in range(4)]))
    keyed = sig.select("doc_id", "shingles", band_key.alias("bk"))
    a = keyed.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa"), F.col("bk").alias("bk_a"))
    b = keyed.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb"), F.col("bk").alias("bk_b"))
    near_dropped = (
        a.join(b, (F.col("bk_a") == F.col("bk_b")) & (F.col("doc_a") < F.col("doc_b")))
        .filter(jaccard("sa", "sb") >= 0.8)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    final = exact_survivors.join(near_dropped, "doc_id", "left_anti")
    bucket = (F.col("doc_id") * _SPLIT_PRIME) % 100
    split = F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    return (
        final.select(split.alias("split"), "n_tokens", "source")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("split")
    )


_SOURCE_CAP = 15


@query(
    "stratified_source_cap",
    oracle=f"""
    WITH ranked AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (rk <= {_SOURCE_CAP}) AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(n_chars) FILTER (rk <= {_SOURCE_CAP}), 0) AS BIGINT)
             AS kept_chars
    FROM ranked
    GROUP BY source
    ORDER BY source
    """,
)
def stratified_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cap sampling (corpus balancing): rank docs inside each
    source by md5(doc_id) — a seedless engine-portable uniform shuffle,
    the same trick as train_test_split's hash bucketing — and keep the
    first K=15. Unlike ``df.sampleBy`` this is exactly-K, deterministic,
    and reproducible across engines and cluster sizes.

    Scale: one shuffle on source (the window partition). A skewed giant
    source makes that partition hot; then swap to the two-stage form —
    pre-filter with a per-partition heap (mapInPandas top-K) before the
    global rank — without changing the output contract."""
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    kept = F.col("rk") <= _SOURCE_CAP
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(kept, F.lit(1))).alias("n_kept"),
            F.coalesce(F.sum(F.when(kept, F.col("n_chars"))), F.lit(0))
            .cast("bigint")
            .alias("kept_chars"),
        )
        .orderBy("source")
    )


_MIX_TOTAL = 200  # target corpus size after mixing
_MIX_SCALE = 1e6  # sqrt weights scaled to int64 so the denominator sum is exact


@query(
    "corpus_temperature_mix",
    oracle=f"""
    WITH per_src AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ), w AS (
      SELECT source, n_docs,
             CAST(ROUND(sqrt(n_docs::DOUBLE) * {_MIX_SCALE}) AS BIGINT) AS r
      FROM per_src
    ), tot AS (
      SELECT CAST(SUM(r) AS BIGINT) AS denom FROM w
    ), tgt AS (
      SELECT source, n_docs,
             CAST(FLOOR((r * {_MIX_TOTAL})::DOUBLE / denom) AS BIGINT) AS target
      FROM w, tot
    ), ranked AS (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    ), kept AS (
      SELECT r.source, COUNT(*) AS n_kept
      FROM ranked r JOIN tgt USING (source)
      WHERE rk <= target
      GROUP BY r.source
    )
    SELECT t.source,
           CAST(t.n_docs AS BIGINT) AS n_docs,
           t.target,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM tgt t LEFT JOIN kept k USING (source)
    ORDER BY t.source
    """,
)
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (the multinomial reweighting every
    multi-source LLM corpus build runs, T=2): per-source weight
    ∝ sqrt(n_docs), targets = floor(weight-share × 200), then the same
    deterministic md5-rank draw as stratified_source_cap fills each
    target. Upsampling beyond a source's size is clamped by construction
    (rank ≤ target keeps at most n_docs).

    Cross-engine determinism: sqrt is a single IEEE op, but a SUM of 20
    sqrt doubles is fold-order-dependent — so weights are scaled to int64
    (round(sqrt·1e6)) and the denominator summed exactly; the only double
    ops left are one division and one floor, identical on both engines."""
    docs = load(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    w = per_src.withColumn(
        "r", F.round(F.sqrt(F.col("n_docs").cast("double")) * _MIX_SCALE).cast("bigint")
    )
    tot = w.agg(F.sum("r").alias("denom"))
    tgt = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.floor((F.col("r") * _MIX_TOTAL).cast("double") / F.col("denom"))
        .cast("bigint")
        .alias("target"),
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string")), "doc_id"
        )
    )
    ranked = docs.select("source", "doc_id", rk.alias("rk"))
    kept = (
        ranked.join(F.broadcast(tgt.select("source", "target")), "source")
        .filter(F.col("rk") <= F.col("target"))
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        tgt.join(kept, "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            "target",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        )
        .orderBy("source")
    )


_CONTAM_SQL_TOKS = "list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t <> '')"
_CONTAM_SQL_GRAMS = (
    "list_distinct([array_to_string(toks[i:i+4], ' ') "
    "for i in range(1, greatest(len(toks) - 4, 0) + 1)])"
)


@query(
    "train_contamination_ngram",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_CONTAM_SQL_TOKS} AS toks FROM documents
    ), sh AS (
      SELECT doc_id, (doc_id * {_SPLIT_PRIME}) % 100 AS bucket,
             {_CONTAM_SQL_GRAMS} AS grams
      FROM tok
    ), train_grams AS (
      SELECT DISTINCT md5(g.g) AS gh
      FROM sh, unnest(grams) AS g(g) WHERE bucket < 80
    ), test_grams AS (
      SELECT doc_id, md5(g.g) AS gh
      FROM sh, unnest(grams) AS g(g) WHERE bucket >= 90
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(tr.gh) AS BIGINT) AS n_contaminated,
           ROUND(COUNT(tr.gh) / COUNT(*), 6) AS contamination
    FROM test_grams t LEFT JOIN train_grams tr ON t.gh = tr.gh
    GROUP BY t.doc_id
    HAVING COUNT(tr.gh) > 0
    ORDER BY contamination DESC, t.doc_id
    """,
)
def train_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: the fraction of each TEST doc's
    distinct 5-gram shingles that also occur anywhere in the TRAIN split
    (same deterministic hash split as ``train_test_split``). The
    benchmark-leakage check every serious LLM data pipeline runs before
    training.

    Scale shape: both sides explode to (doc, gram-md5) rows — 16-byte
    keys, never gram text — the train side collapses to a DISTINCT gram
    set, and the probe is a left equi-join on the gram hash (bucketable
    by gram at 100 TB; the HAVING keeps output contaminated-docs-sized).
    """
    docs = load(spark, sf_dir, "documents")
    grams = spread(docs).select(
        "doc_id",
        ((F.col("doc_id") * _SPLIT_PRIME) % 100).alias("bucket"),
        F.explode(T.word_shingles(F.col("text"), k=5)).alias("g"),
    ).select("doc_id", "bucket", F.md5("g").alias("gh"))
    train = grams.filter(F.col("bucket") < 80).select("gh").distinct()
    test = grams.filter(F.col("bucket") >= 90).select("doc_id", "gh")
    hit = train.withColumn("hit", F.lit(1))
    return (
        test.join(hit, "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("hit").alias("n_contaminated"),
            F.round(F.count("hit") / F.count("*"), 6).alias("contamination"),
        )
        .filter(F.col("n_contaminated") > 0)
        .orderBy(F.desc("contamination"), "doc_id")
    )


_CHUNK, _STRIDE = 32, 24


@query(
    "doc_chunk_overlap",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_CONTAM_SQL_TOKS} AS toks FROM documents
    ), chunked AS (
      SELECT doc_id, len(toks) AS n_tokens, c.chunk_id,
             len(toks[c.chunk_id * {_STRIDE} + 1 : c.chunk_id * {_STRIDE} + {_CHUNK}])
               AS chunk_len
      FROM tok,
           unnest(range(0, CAST(CASE WHEN len(toks) > {_CHUNK}
                       THEN ceil((len(toks) - {_CHUNK}) / {_STRIDE}.0) + 1
                       ELSE 1 END AS BIGINT))) AS c(chunk_id)
    )
    SELECT doc_id, MAX(n_tokens) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(chunk_len) AS BIGINT) AS total_chunk_tokens,
           MIN(chunk_len) AS min_chunk_len
    FROM chunked
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (size 32, stride 24 → 8-token overlap):
    the context-window packing step before tokenized training
    shards are written. Chunks are REALLY materialized (sequence →
    explode → slice), not just counted — per doc the roll-up reports
    chunk count, the overlap-inflated token total, and the runt tail.

    Scale shape: shuffle-free until the final per-doc agg (chunk
    explosion is map-side); at 100 TB the chunk rows would stream
    straight into a partitioned writer, no different from here."""
    docs = load(spark, sf_dir, "documents")
    toks = T.ws_tokens(F.lower(F.col("text")))
    n = F.size(toks)
    n_chunks = F.when(
        n > _CHUNK, F.ceil((n - _CHUNK) / F.lit(float(_STRIDE))) + 1
    ).otherwise(F.lit(1)).cast("int")
    chunked = (
        spread(docs)
        .select("doc_id", toks.alias("toks"), n.alias("n_tokens"), n_chunks.alias("nc"))
        .select(
            "doc_id",
            "n_tokens",
            F.explode(F.sequence(F.lit(0), F.col("nc") - 1)).alias("chunk_id"),
            F.col("toks"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.size(
                F.slice(F.col("toks"), F.col("chunk_id") * _STRIDE + 1, _CHUNK)
            ).alias("chunk_len"),
        )
    )
    return (
        chunked.groupBy("doc_id")
        .agg(
            F.max("n_tokens").alias("n_tokens"),
            F.count("*").alias("n_chunks"),
            F.sum("chunk_len").cast("bigint").alias("total_chunk_tokens"),
            F.min("chunk_len").alias("min_chunk_len"),
        )
        .orderBy("doc_id")
    )


_MG_K = 50


def _mg_partition_summaries(batches):
    """Mergeable Misra-Gries sketch over one partition's token stream.

    Per Arrow batch the counts come from vectorized ``value_counts``;
    the merge-then-truncate step (combine, subtract the k-th largest,
    drop non-positives — Agarwal et al., "Mergeable Summaries") keeps
    the summary at < k keys with total undercount <= n_p/k, so every
    token with partition frequency > n_p/k is guaranteed to survive."""
    import pandas as pd

    counts: dict = {}
    for pdf in batches:
        for w, c in pdf["w"].value_counts().items():
            counts[w] = counts.get(w, 0) + int(c)
        if len(counts) >= _MG_K:
            kth = sorted(counts.values(), reverse=True)[_MG_K - 1]
            counts = {w: c - kth for w, c in counts.items() if c > kth}
    yield pd.DataFrame({"w": list(counts.keys())})


@query(
    "heavy_hitters_mg",
    oracle="""
    WITH toks AS (
      SELECT g.t AS w
      FROM documents,
           unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                              t -> t <> '')) AS g(t)
    ), tot AS (SELECT COUNT(*) AS n FROM toks),
    cnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_occurrences FROM toks GROUP BY w)
    SELECT c.w AS word, c.n_occurrences,
           ROUND(c.n_occurrences / (tot.n / 1.0), 6) AS share
    FROM cnt c, tot
    WHERE c.n_occurrences > tot.n / 50.0
    ORDER BY c.n_occurrences DESC, word
    """,
)
def heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-token detection via a two-pass sketch: per-partition
    mergeable Misra-Gries summaries (Arrow-batched mapInPandas) nominate
    candidates; an exact recount over ONLY the candidate set keeps every
    token above the 1/50 frequency threshold. Output counts are exact —
    the sketch only prunes.

    Soundness: a token with global share > 1/k must exceed n_p/k in at
    least one partition (pigeonhole), where MG guarantees it survives;
    the candidate union is therefore a superset of all true heavy
    hitters, and the exact verify pass removes false positives.

    Scale shape: pass 1 shuffles only the tiny per-partition summaries
    (< k keys each); pass 2 is a broadcast semi-join + one aggregation
    of candidate tokens — the full token stream is never shuffled by
    word, which is the entire point at 100 TB vocabulary sizes."""
    docs = load(spark, sf_dir, "documents")
    toks = (
        spread(docs)
        .select(F.explode(T.ws_tokens(F.lower(F.col("text")))).alias("w"))
        .localCheckpoint()
    )
    cand = toks.mapInPandas(_mg_partition_summaries, "w string").distinct()
    total = toks.agg(F.count("*").alias("n"))
    return (
        toks.join(F.broadcast(cand), "w")
        .groupBy("w")
        .agg(F.count("*").alias("n_occurrences"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") > F.col("n") / 50.0)
        .select(
            F.col("w").alias("word"),
            "n_occurrences",
            F.round(F.col("n_occurrences") / (F.col("n") / 1.0), 6).alias("share"),
        )
        .orderBy(F.desc("n_occurrences"), "word")
    )


# --- deterministic negative sampling (round 7) ------------------------------

NEG_K = 5  # negatives kept per user
NEG_DRAWS = 10  # oversample factor 2: survive anti-join underfill
NEG_PROBE_USERS = 50  # bounded probe set, the repo's output convention


@query(
    "negative_sampling_pairs",
    oracle=f"""
    WITH pos AS (
      SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS item
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE o.o_custkey < {NEG_PROBE_USERS}
    ), probe AS (
      SELECT DISTINCT u FROM pos
    ), pmax AS (
      SELECT MAX(p_partkey) AS np FROM part
    ), draws AS (
      SELECT u, CAST(t.range AS BIGINT) AS k,
             1 + {sql_md5_int("u || ':' || t.range")} % (SELECT np FROM pmax)
               AS cand
      FROM probe, range({NEG_DRAWS}) t
    ), dedup AS (
      SELECT u, cand, MIN(k) AS k FROM draws GROUP BY u, cand
    ), neg AS (
      SELECT d.u, d.cand, d.k FROM dedup d
      WHERE NOT EXISTS (SELECT 1 FROM pos p WHERE p.u = d.u AND p.item = d.cand)
    )
    SELECT u AS custkey, CAST(rk - 1 AS BIGINT) AS draw_idx,
           CAST(cand AS BIGINT) AS neg_partkey
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY u ORDER BY k) AS rk
          FROM neg)
    WHERE rk <= {NEG_K}
    ORDER BY custkey, draw_idx
    """,
)
def negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for implicit-feedback training
    (the negatives a BPR/contrastive recommender or embedding model
    trains against): for each probe customer, {NEG_K} part ids they did
    NOT buy, drawn by keyed hashing — md5(user:k) mod |catalog| — with
    2× oversampling, an anti-join against the positives, and a
    keep-first-by-draw-order rank. No RNG state anywhere: reruns,
    backfills, and both engines produce byte-identical negatives (the
    property that makes training reproducible and incremental).

    Determinism: the draw is a pure function of (user, k); collisions
    within a user dedup to the smallest k; underfill after the
    anti-join (a user whose draws all hit positives) is possible and
    deterministic — production loops another oversampling round, the
    contract here pins one round.

    Scale shape: draws = |probe|×{NEG_DRAWS} rows built by explode (no
    data shuffle); the anti-join is keyed (u, item) against the
    positives table — at 100 TB that is the standing user-item index,
    shuffle-keyed once; the keep-k window partitions BY USER over ≤
    {NEG_DRAWS} rows. The catalog size is one broadcast scalar.

    PRECONDITION (ADVICE r7): candidates are drawn as 1 + md5 mod
    max(p_partkey), which assumes part keys are DENSE 1..N (true for
    TPC-H and any surrogate-keyed catalog). With a SPARSE key domain
    the draw can emit nonexistent part ids as negatives — there,
    replace the modular draw with a draw from the actual part table
    (hash-rank the catalog once and join draws on the rank)."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    pos = (
        orders.filter(F.col("o_custkey") < NEG_PROBE_USERS)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("item"))
        .distinct()
    )
    probe = pos.select("u").distinct()
    pmax = part.agg(F.max("p_partkey").alias("np"))
    draws = (
        probe.crossJoin(F.broadcast(pmax))
        .select("u", "np", F.explode(F.sequence(F.lit(0), F.lit(NEG_DRAWS - 1))).alias("k"))
        .select(
            "u",
            F.col("k").cast("bigint").alias("k"),
            (
                1
                + md5_int(F.concat_ws(":", F.col("u"), F.col("k")))
                % F.col("np")
            ).alias("cand"),
        )
    )
    dedup = draws.groupBy("u", "cand").agg(F.min("k").alias("k"))
    neg = dedup.join(
        pos, (pos["u"] == dedup["u"]) & (pos["item"] == dedup["cand"]), "left_anti"
    )
    wk = Window.partitionBy("u").orderBy("k")
    return (
        neg.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= NEG_K)
        .select(
            F.col("u").alias("custkey"),
            (F.col("rk") - 1).cast("bigint").alias("draw_idx"),
            F.col("cand").cast("bigint").alias("neg_partkey"),
        )
        .orderBy("custkey", "draw_idx")
    )


# --- corpus release gate (suite-composition capstone) ---------------------

# Release thresholds — shared literals so the gate comparisons are the
# same IEEE chain in both engines. Tuned for a real curation pipeline's
# defaults, not the fixture (the synthetic corpus deliberately FAILS the
# quality and blocklist gates, exercising the deny branch end-to-end).
GATE_MIN_QUALITY_PASS = "0.5"  # >=50% of docs must pass the Gopher rules
GATE_MAX_BLOCKLIST_DROP = "0.25"  # <=25% of docs blocklist-dropped
GATE_MAX_DUP_RATE = "0.05"  # <=5% exact duplicates
GATE_MAX_ABS_DRIFT_Z = "3.0"  # |fertility-drift z| <= 3 (or no verdict)


def _release_gate_oracle() -> str:
    # Compose the standalone queries' REGISTERED oracles verbatim (the
    # retrieval_mrr_eval convention) — the gate can never drift from
    # what the correctness gate checks for each leg. The leg modules
    # are imported HERE, not assumed: operators.__init__ loads them
    # before this module on the driver, but a Spark Python WORKER
    # unpickling a UDF defined in this module imports pipeline_ops
    # DIRECTLY, where nothing has registered yet (measured: a KeyError
    # here failed heavy_hitters_mg's executor tasks in round 10). The
    # imports are no-ops when registration already happened.
    from bigdata_2025_1_spark.operators import dedup  # noqa: F401
    from bigdata_2025_1_spark.operators import text_analysis  # noqa: F401
    from bigdata_2025_1_spark.registry import ORACLES as _O

    return f"""
    WITH q AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COALESCE(SUM(CASE WHEN gopher_pass THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_quality_pass
      FROM ({_O["gopher_quality_flags"]})
    ), b AS (
      SELECT CAST(COALESCE(SUM(n_docs), 0) AS BIGINT) AS bn,
             CAST(COALESCE(SUM(n_dropped), 0) AS BIGINT) AS bd
      FROM ({_O["blocklist_filter_rates"]})
    ), d AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS dn,
             CAST(COALESCE(SUM(CASE WHEN is_duplicate THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS dd
      FROM ({_O["dedup_exact"]})
    ), f AS (
      SELECT z_score FROM ({_O["mannwhitney_fertility_drift"]})
    ), rates AS (
      SELECT q.n_docs, f.z_score AS fert_drift_z,
             CASE WHEN q.n_docs > 0
                  THEN q.n_quality_pass::DOUBLE / q.n_docs END AS quality_pass_rate,
             CASE WHEN b.bn > 0 THEN b.bd::DOUBLE / b.bn END AS blocklist_drop_rate,
             CASE WHEN d.dn > 0 THEN d.dd::DOUBLE / d.dn END AS dup_rate
      FROM q CROSS JOIN b CROSS JOIN d CROSS JOIN f
    )
    SELECT n_docs, quality_pass_rate, blocklist_drop_rate, dup_rate,
           fert_drift_z,
           quality_pass_rate >= {GATE_MIN_QUALITY_PASS} AS ok_quality,
           blocklist_drop_rate <= {GATE_MAX_BLOCKLIST_DROP} AS ok_blocklist,
           dup_rate <= {GATE_MAX_DUP_RATE} AS ok_dedup,
           (fert_drift_z IS NULL
            OR ABS(fert_drift_z) <= {GATE_MAX_ABS_DRIFT_Z}) AS ok_fertility,
           (quality_pass_rate >= {GATE_MIN_QUALITY_PASS}
            AND blocklist_drop_rate <= {GATE_MAX_BLOCKLIST_DROP}
            AND dup_rate <= {GATE_MAX_DUP_RATE}
            AND (fert_drift_z IS NULL
                 OR ABS(fert_drift_z) <= {GATE_MAX_ABS_DRIFT_Z})) AS release_ok
    FROM rates
    """


@query("corpus_release_gate", oracle=_release_gate_oracle())
def corpus_release_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nightly corpus RELEASE DECISION, in one row — the
    suite-composition capstone: chain the standalone operators the way
    a real curation job gates a snapshot before training sees it.
    Composes (by CALLING the registered queries, so the gate can never
    drift from what the correctness gate certifies leg by leg):

    - ``gopher_quality_flags``  -> quality_pass_rate  (>= {GATE_MIN_QUALITY_PASS})
    - ``blocklist_filter_rates`` -> blocklist_drop_rate (<= {GATE_MAX_BLOCKLIST_DROP})
    - ``dedup_exact``           -> dup_rate            (<= {GATE_MAX_DUP_RATE})
    - ``mannwhitney_fertility_drift`` -> fert_drift_z  (NULL or |z| <= {GATE_MAX_ABS_DRIFT_Z})

    ``release_ok`` is the conjunction. Every sub-scalar is reconciled
    against its standalone query by tests/test_release_gate.py (the
    round-9 verdict's reconciliation contract), and each rate rides
    along so a failed gate says WHY.

    Determinism: each leg inherits its standalone determinism contract;
    the rates are single double divisions of exact integer counts; gate
    comparisons are shared literals. An EMPTY corpus yields NULL rates
    and a NULL (unknown) release_ok under both engines' identical
    three-valued logic — an empty snapshot is a no-decision, not a
    pass. A missing drift verdict (degenerate split) passes the
    fertility leg via the identical IS NULL arm.

    Scale shape: four independent corpus passes, each already
    scale-audited in its standalone form (scan-side exprs, value-domain
    windows, the vocabulary-sized encode join), each reduced to one row
    inside its leg. The heavyweight leg (the BPE train for the drift
    test) is session-memoized (``corpus_ops._bpe_train``), so a session
    running the gate next to any other BPE-family query trains the
    tokenizer once."""
    from bigdata_2025_1_spark.operators.dedup import dedup_exact
    from bigdata_2025_1_spark.operators.text_analysis import (
        blocklist_filter_rates,
        gopher_quality_flags,
        mannwhitney_fertility_drift,
    )

    # Three legs tokenize documents with doc_lt_toks, yet the gate
    # shares nothing: for three consumers the (lt, toks) cache write
    # costs more than the two scan-side tokenizes it saves.
    return release_gate(
        [
            lambda: gopher_quality_flags(spark, sf_dir).agg(
                F.count("*").cast("bigint").alias("n_docs"),
                F.coalesce(
                    F.sum(F.when(F.col("gopher_pass"), 1).otherwise(0)),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("n_quality_pass"),
            ),
            lambda: blocklist_filter_rates(spark, sf_dir).agg(
                F.coalesce(F.sum("n_docs"), F.lit(0)).cast("bigint").alias("bn"),
                F.coalesce(F.sum("n_dropped"), F.lit(0))
                .cast("bigint")
                .alias("bd"),
            ),
            lambda: dedup_exact(spark, sf_dir).agg(
                F.count("*").cast("bigint").alias("dn"),
                F.coalesce(
                    F.sum(F.when(F.col("is_duplicate"), 1).otherwise(0)),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("dd"),
            ),
            lambda: mannwhitney_fertility_drift(spark, sf_dir).select(
                F.col("z_score").alias("fert_drift_z")
            ),
        ],
        derived={
            "quality_pass_rate": ratio("n_quality_pass", "n_docs"),
            "blocklist_drop_rate": ratio("bd", "bn"),
            "dup_rate": ratio("dd", "dn"),
        },
        out=[
            "n_docs",
            "quality_pass_rate",
            "blocklist_drop_rate",
            "dup_rate",
            "fert_drift_z",
        ],
        verdicts={
            "ok_quality": F.col("quality_pass_rate")
            >= float(GATE_MIN_QUALITY_PASS),
            "ok_blocklist": F.col("blocklist_drop_rate")
            <= float(GATE_MAX_BLOCKLIST_DROP),
            "ok_dedup": F.col("dup_rate") <= float(GATE_MAX_DUP_RATE),
            "ok_fertility": F.col("fert_drift_z").isNull()
            | (F.abs(F.col("fert_drift_z")) <= float(GATE_MAX_ABS_DRIFT_Z)),
        },
        ok="release_ok",
    )


_SPLIT_CASE_SQL = f"""CASE WHEN (doc_id * {_SPLIT_PRIME}) % 100 < 80 THEN 'train'
                WHEN (doc_id * {_SPLIT_PRIME}) % 100 < 90 THEN 'valid'
                ELSE 'test' END"""


@query(
    "split_balance_chi2",
    oracle=f"""
    WITH tagged AS (
      SELECT {_SPLIT_CASE_SQL} AS split, source FROM documents
    ), obs0 AS (
      SELECT split, source, CAST(COUNT(*) AS BIGINT) AS observed
      FROM tagged GROUP BY split, source
    ), sp AS (SELECT DISTINCT split FROM tagged),
       so AS (SELECT DISTINCT source FROM tagged),
       grid AS (
      SELECT p.split, s.source, COALESCE(o.observed, 0) AS observed
      FROM sp p CROSS JOIN so s
      LEFT JOIN obs0 o ON o.split = p.split AND o.source = s.source
    ), rt AS (SELECT split, SUM(observed) AS r FROM grid GROUP BY split),
       ct AS (SELECT source, SUM(observed) AS c FROM grid GROUP BY source),
       nn AS (SELECT SUM(observed) AS n FROM grid),
       cells AS (
      SELECT g.split, g.source, g.observed, r.r, c.c, nn.n,
             g.observed * nn.n - r.r * c.c AS d
      FROM grid g
      JOIN rt r ON r.split = g.split
      JOIN ct c ON c.source = g.source
      CROSS JOIN nn
    ), scored AS (
      SELECT split, source, observed,
             r::DOUBLE * c / n AS expected,
             CAST(ROUND(d::DOUBLE * d / n / r / c * 1e6) AS BIGINT) AS contrib_i6
      FROM cells
    ), tot AS (
      SELECT CAST(SUM(contrib_i6) AS BIGINT) AS chi2_i6 FROM scored
    ), dofs AS (
      SELECT CAST(((SELECT COUNT(*) FROM sp) - 1)
                  * ((SELECT COUNT(*) FROM so) - 1) AS INT) AS dof
    )
    SELECT s.split, s.source, s.observed, s.expected,
           s.contrib_i6::DOUBLE / 1e6 AS contrib,
           t.chi2_i6::DOUBLE / 1e6 AS chi2,
           d.dof
    FROM scored s CROSS JOIN tot t CROSS JOIN dofs d
    ORDER BY s.split, s.source
    """,
)
def split_balance_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-balance AUDIT — suite composition over ``train_test_split``:
    the Pearson chi-square contingency readout of SPLIT x SOURCE under
    the same multiplicative-hash assignment, the hygiene check a corpus
    release runs to confirm the deterministic split did not
    accidentally correlate with provenance (a skew here leaks source
    distribution shift into the valid/test sets). Emits the full grid
    (zero-observed cells included), per-cell contributions, the
    statistic and dof on every row — the ``chi_square_independence``
    readout shape, pointed at the pipeline's own split rule.
    Per-split totals reconcile against ``train_test_split``'s n_docs
    by construction (tested).

    Determinism: the split is the shared {_SPLIT_PRIME} multiplicative
    hash (integer-exact); d = obs*N - r*c is int64-exact (N = corpus
    docs, obs*N <= N^2 — safe to ~3e9 docs); each contribution is one
    pinned double chain rounded once to 6 dp and the statistic sums
    those integers; a single-source corpus yields d = 0 everywhere,
    chi2 = 0, dof = 0.

    Scale shape: one map-side-combinable groupBy collapses the corpus
    to <= 3*|sources| cells; margins and the statistic are broadcast
    arithmetic on that bounded grid."""
    docs = load(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * _SPLIT_PRIME) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )
    tagged = docs.select(split.alias("split"), "source")
    obs0 = tagged.groupBy("split", "source").agg(F.count("*").alias("observed"))
    sp = tagged.select("split").distinct()
    so = tagged.select("source").distinct()
    grid = (
        sp.crossJoin(F.broadcast(so))
        .join(F.broadcast(obs0), ["split", "source"], "left")
        .select(
            "split",
            "source",
            F.coalesce(F.col("observed"), F.lit(0)).cast("bigint").alias("observed"),
        )
    )
    rt = grid.groupBy("split").agg(F.sum("observed").alias("r"))
    ct = grid.groupBy("source").agg(F.sum("observed").alias("c"))
    nn = grid.agg(F.sum("observed").alias("n"))
    d = F.col("observed") * F.col("n") - F.col("r") * F.col("c")
    scored = (
        grid.join(F.broadcast(rt), "split")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(nn))
        .select(
            "split",
            "source",
            "observed",
            (F.col("r").cast("double") * F.col("c") / F.col("n")).alias("expected"),
            F.round(
                d.cast("double") * d / F.col("n") / F.col("r") / F.col("c") * F.lit(1e6)
            )
            .cast("bigint")
            .alias("contrib_i6"),
        )
    )
    tot = scored.agg(F.sum("contrib_i6").cast("bigint").alias("chi2_i6"))
    dofs = (
        sp.agg(F.count("*").alias("np"))
        .crossJoin(so.agg(F.count("*").alias("ns")))
        .select(((F.col("np") - 1) * (F.col("ns") - 1)).cast("int").alias("dof"))
    )
    return (
        scored.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(dofs))
        .select(
            "split",
            "source",
            "observed",
            "expected",
            (F.col("contrib_i6").cast("double") / F.lit(1e6)).alias("contrib"),
            (F.col("chi2_i6").cast("double") / F.lit(1e6)).alias("chi2"),
            "dof",
        )
        .orderBy("split", "source")
    )
