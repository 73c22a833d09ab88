"""corpus_release_gate reconciliation contract (VERDICT r9 ask #2):
every sub-scalar in the gate row must equal the same aggregate computed
from the STANDALONE registered query it composes — the capstone may
never drift from the legs the correctness gate certifies individually —
plus both decision branches exercised on crafted corpora.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_2025_1_spark.registry import all_queries


def test_gate_reconciles_with_standalone_queries(spark, sf_dir):
    qs = all_queries()
    row = qs["corpus_release_gate"](spark, sf_dir).collect()[0]

    gq = qs["gopher_quality_flags"](spark, sf_dir).agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("gopher_pass"), 1).otherwise(0)).alias("p"),
    ).collect()[0]
    assert row.n_docs == gq.n
    assert row.quality_pass_rate == (gq.p / gq.n if gq.n else None)

    bl = qs["blocklist_filter_rates"](spark, sf_dir).agg(
        F.sum("n_docs").alias("n"), F.sum("n_dropped").alias("d")
    ).collect()[0]
    assert row.blocklist_drop_rate == (bl.d / bl.n if bl.n else None)

    de = qs["dedup_exact"](spark, sf_dir).agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("is_duplicate"), 1).otherwise(0)).alias("d"),
    ).collect()[0]
    assert row.dup_rate == (de.d / de.n if de.n else None)

    mw = qs["mannwhitney_fertility_drift"](spark, sf_dir).collect()[0]
    assert row.fert_drift_z == mw.z_score

    # the decision really is the conjunction of the leg verdicts
    assert row.release_ok == (
        row.ok_quality and row.ok_blocklist and row.ok_dedup and row.ok_fertility
    )
    spark.catalog.clearCache()


def _write_docs(spark, tmp_path, texts: dict[int, str]) -> str:
    df = spark.createDataFrame(
        [(d, t, "en", "crafted", len(t)) for d, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


# Passes every Gopher rule: >=20 words, mean word length 3-10, no '#' or
# '...', >=2 distinct stopwords, >=80% alphabetic words — and carries no
# blocklist term ('slow', 'leak', 'stale'). Word mixes differ per doc so
# nothing is an exact duplicate; doc_ids span both md5 parities.
_CLEAN_BASE = (
    "the quick brown fox jumps over lazy dogs and many other animals "
    "that have been waiting with great patience to see the show today"
)
_CLEAN_TEXTS = {i: f"{_CLEAN_BASE} chapter number {w}" for i, w in enumerate(
    ["alpha", "bravo", "delta", "echo", "golf", "hotel"]
)}


def test_gate_passes_on_a_clean_corpus(spark, tmp_path):
    sf = _write_docs(spark, tmp_path, _CLEAN_TEXTS)
    row = all_queries()["corpus_release_gate"](spark, sf).collect()[0]
    assert row.quality_pass_rate == 1.0
    assert row.blocklist_drop_rate == 0.0
    assert row.dup_rate == 0.0
    assert (
        row.ok_quality,
        row.ok_blocklist,
        row.ok_dedup,
        row.ok_fertility,
        row.release_ok,
    ) == (True, True, True, True, True)
    spark.catalog.clearCache()


def test_gate_fails_on_duplicated_blocklisted_corpus(spark, tmp_path):
    """Half the corpus is one duplicated blocklisted doc: the dedup and
    blocklist legs fail, the conjunction is False even though quality
    still passes for the clean half."""
    bad = _CLEAN_BASE + " slow leak everywhere"
    texts = dict(_CLEAN_TEXTS)
    for i in range(6, 12):
        texts[i] = bad
    sf = _write_docs(spark, tmp_path, texts)
    row = all_queries()["corpus_release_gate"](spark, sf).collect()[0]
    assert row.dup_rate == pytest.approx(5 / 12)
    assert row.blocklist_drop_rate == pytest.approx(6 / 12)
    assert (row.ok_blocklist, row.ok_dedup, row.release_ok) == (
        False,
        False,
        False,
    )
    spark.catalog.clearCache()


def test_gate_empty_corpus_is_no_decision(spark, tmp_path):
    """Zero docs: every rate NULL, release_ok NULL — an empty snapshot
    is a no-decision, not a pass (three-valued AND in both engines)."""
    df = spark.createDataFrame(
        [],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    row = all_queries()["corpus_release_gate"](
        spark, str(tmp_path)
    ).collect()[0]
    assert row.n_docs == 0
    assert (
        row.quality_pass_rate,
        row.blocklist_drop_rate,
        row.dup_rate,
        row.release_ok,
    ) == (None, None, None, None)
    spark.catalog.clearCache()


# --- retrieval_eval_suite (the similarity-family capstone) ----------------


def test_retrieval_suite_reconciles_with_standalone_evals(spark, sf_dir):
    qs = all_queries()
    row = qs["retrieval_eval_suite"](spark, sf_dir).collect()[0]
    m = qs["retrieval_mrr_eval"](spark, sf_dir).collect()[0]
    n = qs["ndcg_retrieval_eval"](spark, sf_dir).collect()[0]
    assert (row.n_queries, row.n_hits, row.recall_at_k, row.mrr) == (
        m.n_queries,
        m.n_hits,
        m.recall_at_k,
        m.mrr,
    )
    assert (row.n_perfect, row.mean_ndcg_at_k) == (
        n.n_perfect,
        n.mean_ndcg_at_k,
    )
    from bigdata_2025_1_spark.operators.similarity import (
        SUITE_MIN_MRR,
        SUITE_MIN_NDCG,
        SUITE_MIN_RECALL,
    )

    assert row.index_ok == (
        row.recall_at_k >= float(SUITE_MIN_RECALL)
        and row.mrr >= float(SUITE_MIN_MRR)
        and row.mean_ndcg_at_k >= float(SUITE_MIN_NDCG)
    )
    spark.catalog.clearCache()


def test_retrieval_suite_legs_read_the_shared_rankings(spark, sf_dir, monkeypatch):
    """Both suite legs run while the exact and IVF rankings are cached,
    so the suite builds each index once; the cache is gone when the
    suite returns."""
    from bigdata_2025_1_spark.functions import overlap
    from bigdata_2025_1_spark.operators.similarity import retrieval_rankings
    from bigdata_2025_1_spark.oracle import cache_entries

    levels = []
    materialize = overlap.materialize_legs

    def spy(*builders):
        levels.extend(df.storageLevel for df in retrieval_rankings(spark, sf_dir))
        return materialize(*builders)

    monkeypatch.setattr(overlap, "materialize_legs", spy)
    before = cache_entries(spark)
    assert len(all_queries()["retrieval_eval_suite"](spark, sf_dir).collect()) == 1
    assert len(levels) == 2 and all(lvl.useMemory for lvl in levels), levels
    assert cache_entries(spark) == before


def test_gates_free_their_shared_frames(spark, sf_dir):
    """Each gate persists the subtrees its legs share while the legs
    run and frees them when they have returned."""
    from bigdata_2025_1_spark.operators.backfill_ops import _flagged
    from bigdata_2025_1_spark.operators.dedup import _signatures
    from bigdata_2025_1_spark.operators.shared_text import doc_lt_toks
    from bigdata_2025_1_spark.operators.similarity import (
        _corpus_cells,
        retrieval_rankings,
    )

    qs = all_queries()
    spark.catalog.clearCache()
    for gate, shared in [
        ("backfill_release_gate", lambda: [_flagged(spark, sf_dir)]),
        ("ann_release_gate", lambda: [_corpus_cells(spark, sf_dir)]),
        ("platform_release_gate", lambda: [doc_lt_toks(spark, sf_dir)]),
        ("dedup_release_gate", lambda: [_signatures(spark, sf_dir)]),
        ("retrieval_eval_suite", lambda: retrieval_rankings(spark, sf_dir)),
    ]:
        assert len(qs[gate](spark, sf_dir).collect()) == 1
        for df in shared():
            level = df.storageLevel
            assert not (level.useMemory or level.useDisk), (gate, level)
    spark.catalog.clearCache()
