"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import itertools

import pytest

from perfbench import stream as S
from perfbench.measure import percentile, tail_percentile
from perfbench.run import pass_orders


def _digest(msgs) -> str:
    return hashlib.sha256("\n".join(m.line for m in msgs).encode()).hexdigest()


def test_same_seed_same_message_files_and_query_orders(tmp_path):
    phases = {"warm": 4, "drain": 12, "paced": 9}
    a, b, c = S.generate(7, phases), S.generate(7, phases), S.generate(8, phases)
    for name in phases:
        assert _digest(a[name]) == _digest(b[name])
        assert _digest(a[name]) != _digest(c[name])
    paths_a = S.write_messages(a["drain"], str(tmp_path / "a"))
    paths_b = S.write_messages(b["drain"], str(tmp_path / "b"))
    for pa_, pb_ in zip(paths_a, paths_b):
        with open(pa_, "rb") as fa, open(pb_, "rb") as fb:
            assert fa.read() == fb.read()
    names = [f"q{i}" for i in range(9)]
    take = lambda seed: list(itertools.islice(pass_orders(names, seed), 5))  # noqa: E731
    assert take(3) == take(3)
    assert take(3) != take(4)
    assert all(sorted(o) == sorted(names) for o in take(3))


def test_malformed_share_is_exact():
    msgs = S.generate(1, {"drain": 200})["drain"]
    assert sum(m.malformed for m in msgs) == 200 // S.MALFORMED_EVERY
    sizes = sorted(len(m.content) for m in msgs if not m.malformed)
    assert S.MIN_CHARS <= sizes[0] and sizes[-1] <= S.MAX_CHARS


def test_every_seed_puts_the_same_volume_in_each_batch():
    b = S.DRAIN_FILES_PER_TRIGGER
    per_batch = [
        [sum(len(m.content) for m in msgs[i : i + b] if not m.malformed) for i in range(0, 192, b)]
        for msgs in (S.generate(seed, {"drain": 192})["drain"] for seed in (1, 2))
    ]
    assert per_batch[0] == per_batch[1]


def test_latency_is_measured_from_the_due_time():
    msgs = S.generate(1, {"paced": 3})["paced"]
    due = [100.0, 100.5, 101.0]
    # message 1 was published 2 s late and consumed by batch 7, which
    # ended at 104.0: it is charged 104.0 - 100.5, lateness included
    batches = {6: [msgs[0]], 7: [msgs[1], msgs[2]]}
    done = {6: 101.0, 7: 104.0}
    assert sorted(S.latencies(batches, done, due)) == [1.0, 3.0, 3.5]
    # a batch whose write never finished charges nothing (counted unconsumed)
    assert S.latencies({8: [msgs[0]]}, done, due) == []


@pytest.mark.parametrize(
    "n, pct", [(19, None), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90), (999, 95), (1000, 99)]
)
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    assert tail_percentile(n) == pct
    if pct is not None:
        values = list(range(n))
        beyond = sum(v > percentile(values, pct) for v in values)
        assert beyond >= 10


def test_batch_stats_reference():
    msgs = S.generate(2, {"drain": 40})["drain"]
    whole = S.expected_stats(msgs)
    parts = S.merge_stats([S.expected_stats(msgs[:15]), S.expected_stats(msgs[15:])])
    assert parts == whole
    assert whole["total_documents"] == 40 - sum(m.malformed for m in msgs) > 0


def test_job_counts_repeat_exactly(tmp_path):
    """Job, stage and task counts of one query repeat across executions."""
    from bigdata_2025_1_spark.session import get_spark

    from perfbench.datagen import ensure_tables
    from perfbench.queries import QueryRunner
    from perfbench.tracing import Tracer

    data_dir, fingerprint = ensure_tables(str(tmp_path))
    spark = get_spark("perfbench-selftest", master="local[4]")
    try:
        tracer = Tracer()
        tracer.bind(spark)
        runner = QueryRunner(spark, data_dir, str(tmp_path), fingerprint, tracer)
        for name in ("q13_customer_distribution", "ingest_release_gate"):
            a, b = runner.execute(name, 0), runner.execute(name, 1)
            assert "error" not in a and "error" not in b
            assert a["collect_counts"] == b["collect_counts"]
            assert a["build_counts"] == b["build_counts"]
            assert a["collect_counts"]["jobs"] > 0
    finally:
        spark.stop()


def test_a_failed_execution_is_charged_its_time():
    import time
    from types import SimpleNamespace as NS

    from perfbench.queries import QueryRunner

    def boom(spark, data_dir):
        time.sleep(0.05)
        raise ValueError("broken query")

    rdds = NS(size=lambda: 0)
    spark = NS(
        sparkContext=NS(_jsc=NS(getPersistentRDDs=lambda: rdds)),
        catalog=NS(clearCache=lambda: None),
    )
    runner = QueryRunner(spark, "unused", "unused", "unused")
    runner.queries = {"boom": boom}
    rec = runner.execute("boom", 0)
    assert rec["latency_s"] >= 0.05
    assert rec["error"].startswith("ValueError")
    runner.check([rec])
    assert rec["ok"] is False
