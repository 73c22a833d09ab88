"""Scalar reference for BPE tokenizer INFERENCE (bpe_encode_corpus /
tokenizer_fertility_by_lang): a plain-Python train-then-encode walking
the documented convention by hand — (n DESC, pair ASC) argmax merges,
greedy left-to-right non-overlapping application in rank order — checked
against the Spark queries on crafted corpora, plus a DuckDB oracle
cross-check on the degenerate corpus that runs out of mergeable pairs
before BPE_MERGES rounds (the LEFT-JOIN pass-through stage path).

The mirrored-formula blind spot (the log-rank 1e9 lesson): the oracle
proves Spark and DuckDB agree, not that either computes BPE — only this
hand walk does.
"""

from __future__ import annotations

from collections import Counter

import duckdb
import pytest

from bigdata_2025_1_spark.operators.corpus_ops import BPE_MERGES
from bigdata_2025_1_spark.oracle import check_query
from bigdata_2025_1_spark.registry import all_oracles, all_queries


def greedy_merge(syms: list[str], a: str, b: str) -> list[str]:
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def scalar_bpe(texts: list[str], n_merges: int):
    """Train n_merges rules on the word-type vocab, return (merges,
    segs) with segs[w] the final symbol list per word type."""
    words = [w for t in texts for w in t.lower().split() if w]
    vocab = Counter(words)
    segs = {w: list(w) for w in vocab}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pc: Counter = Counter()
        for w, c in vocab.items():
            s = segs[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += c
        if not pc:
            break
        (a, b), _n = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1])
        )
        merges.append((a, b))
        for w in segs:
            segs[w] = greedy_merge(segs[w], a, b)
    return merges, segs


def scalar_encode_rows(texts: list[str]):
    """Per-doc (n_words, n_bpe_tokens, n_word_chars, chars_per_bpe)."""
    _, segs = scalar_bpe(texts, BPE_MERGES)
    rows = []
    for t in texts:
        ws = [w for w in t.lower().split() if w]
        n_words = len(ws)
        n_bpe = sum(len(segs[w]) for w in ws)
        n_chars = sum(len(w) for w in ws)
        cpb = round(n_chars / n_bpe, 6) if n_bpe else None
        rows.append((n_words, n_bpe, n_chars, cpb))
    return rows


# Crafted shapes: repeated-pair words (greedy non-overlap), a tie on the
# top pair (string-ascending break), an all-whitespace doc (zero path),
# and cross-language sharing of word types.
CORPUS = [
    ("d1", "banana band bandana banana", "en"),
    ("d2", "ana ana banana anna", "en"),
    ("d3", "   ", "fr"),
    ("d4", "xy xy zw zw banana", "fr"),
]

# Single-char words only: ZERO mergeable pairs — the Spark loop breaks at
# round 1 and the oracle's LEFT-JOIN stages must pass the vocab through
# (a cross join would empty it and silently zero every count).
DEGENERATE = [
    ("d1", "a b c a", "en"),
    ("d2", "b c a", "fr"),
]


def _write_docs(spark, tmp_path, rows) -> str:
    df = spark.createDataFrame(
        [(d, t, lang, "crafted", len(t)) for d, t, lang in rows],
        "doc_id string, text string, lang string, source string, n_chars int",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


@pytest.mark.parametrize("rows", [CORPUS, DEGENERATE], ids=["crafted", "degenerate"])
def test_encode_matches_scalar_reference(spark, tmp_path, rows):
    sf = _write_docs(spark, tmp_path, rows)
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens, r.n_word_chars, r.chars_per_bpe_token)
        for r in all_queries()["bpe_encode_corpus"](spark, sf).collect()
    }
    want_rows = scalar_encode_rows([t for _, t, _ in rows])
    want = {d: w for (d, _, _), w in zip(rows, want_rows)}
    assert got == want
    spark.catalog.clearCache()


def test_crafted_merge_table_is_the_hand_derived_one(spark, tmp_path):
    """The trained rules themselves, walked by hand via the scalar
    trainer, must match bpe_merge_sequence — including the (n DESC,
    pair ASC) tie-break the xy/zw pair exercises."""
    sf = _write_docs(spark, tmp_path, CORPUS)
    merges, _ = scalar_bpe([t for _, t, _ in CORPUS], BPE_MERGES)
    got = [
        (r.step, r.pair, r.merged)
        for r in all_queries()["bpe_merge_sequence"](spark, sf).collect()
    ]
    assert got == [(i + 1, f"{a} {b}", a + b) for i, (a, b) in enumerate(merges)]
    spark.catalog.clearCache()


def test_fertility_from_real_encodes_matches_scalar(spark, tmp_path):
    sf = _write_docs(spark, tmp_path, CORPUS)
    _, segs = scalar_bpe([t for _, t, _ in CORPUS], BPE_MERGES)
    want = {}
    for _, t, lang in CORPUS:
        ws = [w for w in t.lower().split() if w]
        d = want.setdefault(lang, [0, 0, 0])
        d[0] += 1
        d[1] += len(t)
        d[2] += sum(len(segs[w]) for w in ws)
    got = {
        r.lang: (r.n_docs, r.total_chars, r.total_tokens, r.chars_per_token)
        for r in all_queries()["tokenizer_fertility_by_lang"](spark, sf).collect()
    }
    assert got == {
        lang: (n, c, tok, (c / tok if tok else None))
        for lang, (n, c, tok) in want.items()
    }
    spark.catalog.clearCache()


@pytest.mark.parametrize(
    "name", ["bpe_encode_corpus", "tokenizer_fertility_by_lang"]
)
def test_degenerate_corpus_matches_oracle(spark, tmp_path, name):
    """Oracle parity on the runs-out-of-pairs corpus — exercises the
    encode stages' LEFT-JOIN pass-through in DuckDB, which sf0.01 never
    reaches (its corpus always has BPE_MERGES mergeable pairs)."""
    sf = _write_docs(spark, tmp_path, DEGENERATE)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    problems = check_query(
        spark, con, all_queries()[name], all_oracles()[name], sf
    )
    con.close()
    assert problems == [], problems
    spark.catalog.clearCache()


def test_blocklist_rates_hand_checked(spark, tmp_path):
    """Crafted corpus with known flag counts (reuses this module's
    documents writer; the blocklist terms are module constants)."""
    from bigdata_2025_1_spark.operators.text_analysis import BLOCKLIST_TERMS

    assert BLOCKLIST_TERMS == ("slow", "leak", "stale")
    rows = [
        ("d1", "slow join slow scan", "en"),     # 2 flagged / 4 -> dropped
        ("d2", "fast scan fast join", "en"),     # clean
        ("d3", "LEAK here", "en"),               # lowercased hit -> dropped
        ("d4", "   ", "fr"),                     # zero tokens
    ]
    sf = _write_docs(spark, tmp_path, rows)
    got = {
        r.source: (
            r.n_docs,
            r.n_dropped,
            r.drop_rate,
            r.total_tokens,
            r.flagged_tokens,
            r.flagged_token_rate,
        )
        for r in all_queries()["blocklist_filter_rates"](spark, sf).collect()
    }
    # _write_docs stamps source='crafted' on every row
    assert got == {"crafted": (4, 2, 0.5, 10, 3, 0.3)}
    spark.catalog.clearCache()


UNICODE = [
    # non-BMP emoji (UTF-16 surrogate pair), combining accents, CJK —
    # pins that Spark's split(w, '') and DuckDB's substr() both walk
    # CODE POINTS (the fixture corpus is ASCII and never exercises it)
    ("d1", "café café café", "fr"),
    ("d2", "\U0001F600na \U0001F600na banana", "en"),
    ("d3", "東京 東京 tokyo", "ja"),
]


def test_encode_unicode_matches_scalar_and_oracle(spark, tmp_path):
    sf = _write_docs(spark, tmp_path, UNICODE)
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens, r.n_word_chars, r.chars_per_bpe_token)
        for r in all_queries()["bpe_encode_corpus"](spark, sf).collect()
    }
    want_rows = scalar_encode_rows([t for _, t, _ in UNICODE])
    assert got == {d: w for (d, _, _), w in zip(UNICODE, want_rows)}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    problems = check_query(
        spark,
        con,
        all_queries()["bpe_encode_corpus"],
        all_oracles()["bpe_encode_corpus"],
        sf,
    )
    con.close()
    assert problems == [], problems
    spark.catalog.clearCache()


def test_bpe_train_memo_is_shared_within_a_session(spark, sf_dir):
    """VERDICT r10 ask #2: a second BPE-family query in the same
    session must receive the SAME trained merge log, not re-run the
    merge-training loop."""
    from bigdata_2025_1_spark.operators import corpus_ops as C

    C._BPE_MEMO.clear()
    log1 = C._bpe_train(spark, sf_dir)
    log2 = C._bpe_train(spark, sf_dir)
    assert log1 is log2
    assert len(C._BPE_MEMO) == 1
    spark.catalog.clearCache()


def test_bpe_train_memo_survives_clearcache(spark, sf_dir):
    """The memo holds only the merge log, never a frame: training
    leaves no CacheManager entry, and after spark.catalog.clearCache()
    a memo hit is the same log and runs no Spark job, so a suite keeps
    its one-train contract across per-query cache clears. The encode
    table is rebuilt from the log and gives the same rows."""
    from bigdata_2025_1_spark.operators import corpus_ops as C
    from bigdata_2025_1_spark.oracle import cache_entries

    C._BPE_MEMO.clear()
    before = cache_entries(spark)
    log1 = C._bpe_train(spark, sf_dir)
    enc1 = sorted(C.encoded_word_types(spark, sf_dir).collect())
    assert cache_entries(spark) == before
    assert all(isinstance(v, list) for v in C._BPE_MEMO.values())
    spark.catalog.clearCache()
    sc = spark.sparkContext
    sc.setJobGroup("bpe-memo-hit", "memo hit")
    try:
        log2 = C._bpe_train(spark, sf_dir)
    finally:
        sc._jsc.clearJobGroup()
    assert log2 is log1
    assert list(sc.statusTracker().getJobIdsForGroup("bpe-memo-hit")) == []
    assert sorted(C.encoded_word_types(spark, sf_dir).collect()) == enc1


def test_bpe_train_memo_evicts_oldest(spark, sf_dir):
    """The memo holds at most 8 trainings: a new key evicts the oldest."""
    from bigdata_2025_1_spark.operators import corpus_ops as C

    C._BPE_MEMO.clear()
    for i in range(8):
        C._BPE_MEMO[(f"fake-app-{i}", sf_dir)] = []
    C._bpe_train(spark, sf_dir)
    assert ("fake-app-0", sf_dir) not in C._BPE_MEMO
    assert ("fake-app-1", sf_dir) in C._BPE_MEMO
    assert (spark.sparkContext.applicationId, sf_dir) in C._BPE_MEMO
    assert len(C._BPE_MEMO) == 8
    C._BPE_MEMO.clear()
