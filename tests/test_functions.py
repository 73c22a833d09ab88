"""Unit tests for column-expression builders and the multimodal kernel."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from bigdata_2025_1_spark.functions import text as T
from bigdata_2025_1_spark.functions import vectors as V
from bigdata_2025_1_spark.functions.multimodal import as_media_table, extract_features


def _one(spark, text, col):
    return spark.createDataFrame([(text,)], ["text"]).select(col.alias("v")).first().v


def test_normalize_ws(spark):
    assert _one(spark, "  a\t b\n\nc  ", T.normalize_ws(F.col("text"))) == "a b c"


def test_collapse_dashes(spark):
    assert _one(spark, "a--b---c-d", T.collapse_dashes(F.col("text"))) == "abc-d"


def test_preview(spark):
    assert _one(spark, "x" * 150, T.preview(F.col("text"))) == "x" * 100 + "..."
    assert _one(spark, "short", T.preview(F.col("text"))) == "short"


def test_lang_id(spark):
    assert _one(spark, "the cat and the dog of the house", T.lang_id(F.col("text"))) == "en"
    assert _one(spark, "der Hund und die Katze ist", T.lang_id(F.col("text"))) == "de"
    assert _one(spark, "zzz qqq", T.lang_id(F.col("text"))) == "und"


def test_shingles_and_minhash(spark):
    sh = _one(spark, "a b c d", T.word_shingles(F.col("text"), 3))
    assert sh == ["a b c", "b c d"]
    sig = _one(
        spark, "a b c d", T.minhash_signature(T.word_shingles(F.col("text"), 3), 4)
    )
    assert len(sig) == 4 and all(len(h) == 32 for h in sig)
    # identical text ⇒ identical signature
    sig2 = _one(
        spark, "a  b\tc d", T.minhash_signature(T.word_shingles(F.col("text"), 3), 4)
    )
    assert sig == sig2  # whitespace-insensitive tokenization


def test_simhash_close_for_similar_docs(spark):
    a = _one(spark, "one two three four five six seven eight", T.simhash_bits(F.col("text")))
    b = _one(spark, "one two three four five six seven nine", T.simhash_bits(F.col("text")))
    c = _one(spark, "totally different words entirely unrelated content here now", T.simhash_bits(F.col("text")))
    ham_ab = bin(a ^ b).count("1")
    ham_ac = bin(a ^ c).count("1")
    assert ham_ab < ham_ac


def test_srp_planes_deterministic():
    p1 = V.srp_planes(bits=4, dim=8)
    p2 = V.srp_planes(bits=4, dim=8)
    assert p1 == p2
    assert all(v in (-1, 1) for row in p1 for v in row)


def test_multimodal_kernel(spark):
    df = spark.createDataFrame([(1, "abc"), (2, "")], ["doc_id", "text"])
    media = as_media_table(df, "doc_id", "text")
    rows = {r.media_id: r for r in extract_features(media).collect()}
    assert rows[1].n_bytes == 3
    assert rows[1].feat_byte_sum == ord("a") + ord("b") + ord("c")
    assert rows[1].feat_first_byte == ord("a")
    assert rows[1].decoded is False  # decode stubbed in this container
    assert rows[2].feat_byte_sum is None  # empty payload


def test_bpe_ish_tokens(spark):
    n = _one(spark, "hello, world 123!", T.bpe_ish_token_count(F.col("text")))
    # hello , world 123 !
    assert n == 5


def test_min_label_propagate_reliable_checkpoint(spark, tmp_path):
    """The ``reliable=True`` escape hatch (fault-tolerant checkpoint()
    instead of executor-local localCheckpoint) converges to the same
    labels on a two-component path graph."""
    from bigdata_2025_1_spark.functions.iterate import min_label_propagate

    el = [(1, 2), (2, 3), (4, 5)]
    edges = spark.createDataFrame(
        el + [(b, a) for a, b in el], ["a", "b"]
    )
    labels0 = spark.createDataFrame(
        [(v, v) for v in (1, 2, 3, 4, 5)], ["v", "label"]
    )
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    got = {
        r.v: r.label
        for r in min_label_propagate(edges, labels0, reliable=True).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}


def _path_labels(spark, n):
    el = [(v, v + 1) for v in range(1, n)]
    edges = spark.createDataFrame(el + [(b, a) for a, b in el], ["a", "b"])
    labels0 = spark.createDataFrame([(v, v) for v in range(1, n + 1)], ["v", "label"])
    return edges, labels0


def test_min_label_propagate_round_bound(spark):
    """``max_rounds`` bounds the component diameter: a path whose
    diameter equals the bound converges in its confirming extra round,
    one edge longer raises ``err``."""
    from bigdata_2025_1_spark.functions.iterate import min_label_propagate

    edges, labels0 = _path_labels(spark, 4)
    got = {r.v: r.label for r in min_label_propagate(edges, labels0, max_rounds=3).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}

    edges, labels0 = _path_labels(spark, 5)
    with pytest.raises(RuntimeError, match="path too long"):
        min_label_propagate(edges, labels0, max_rounds=3, err="path too long")


def _plus_one(df):
    return df.select((F.col("x") + 1).alias("x"))


@pytest.mark.parametrize("rounds", [2, 8])
def test_iterate_fixed_rounds_are_lazy_and_one_round_deep(spark, rounds):
    """A fixed-round ``iterate`` runs every round, starts no job while
    the frame is built, and truncates each round so the plan holds one
    checkpointed scan however many rounds ran."""
    from bigdata_2025_1_spark.functions.iterate import iterate
    from bigdata_2025_1_spark.plans.explain import formatted_plan
    from tests.test_session_io import _jobs_started_by

    x0 = spark.range(4).select(F.col("id").alias("x"))
    built = []

    def build():
        built.extend(iterate(_plus_one, x0, rounds=rounds))

    assert _jobs_started_by(spark, build) == []
    state, n = built
    assert n == rounds
    assert len(re.findall(r"^\(\d+\) Scan ExistingRDD", formatted_plan(state), re.M)) == 1
    assert sorted(r.x for r in state.collect()) == [rounds + i for i in range(4)]


def _min_label_hop(edges):
    def step(labels):
        cur = labels.select("v", "label", F.col("label").alias("label0"))
        nb = (
            edges.join(cur.select(F.col("v").alias("a"), "label"), "a")
            .groupBy(F.col("b").alias("v"))
            .agg(F.min("label").alias("nlabel"))
        )
        return cur.join(nb, "v", "left").select(
            "v", F.least("label", F.coalesce("nlabel", "label")).alias("label"), "label0"
        )

    return step


def test_iterate_until_unchanged(spark):
    """With ``changed``, a path of diameter d converges in d changing
    rounds plus one confirming round; a bound of d rounds raises
    ``RuntimeError(err)``."""
    from bigdata_2025_1_spark.functions.iterate import iterate

    d = 3
    edges, labels0 = _path_labels(spark, d + 1)
    changed = F.col("label") != F.col("label0")
    state, n = iterate(_min_label_hop(edges), labels0, rounds=d + 1, changed=changed)
    assert n == d + 1
    assert {r.v: r.label for r in state.collect()} == {v: 1 for v in range(1, d + 2)}
    with pytest.raises(RuntimeError, match="still changing"):
        iterate(
            _min_label_hop(edges), labels0, rounds=d, changed=changed, err="still changing"
        )
