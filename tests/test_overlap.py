"""release_gate's assembly contract on hand-built one-row legs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_2025_1_spark.functions import overlap
from bigdata_2025_1_spark.functions.overlap import ratio, release_gate


def _leg(spark, ddl: str, *rows: tuple):
    return lambda: spark.createDataFrame(list(rows), ddl)


@pytest.mark.parametrize(
    "a, b, ok",
    [
        (True, True, True),
        (True, None, None),  # NULL beats TRUE
        (False, None, False),  # FALSE beats NULL
        (None, False, False),
    ],
)
def test_conjunction_is_three_valued(spark, a, b, ok):
    row = release_gate(
        [_leg(spark, "a boolean", (a,)), _leg(spark, "b boolean", (b,))],
        out=[],
        verdicts={"ok_a": F.col("a"), "ok_b": F.col("b")},
        ok="gate_ok",
    ).first()
    assert (row.ok_a, row.ok_b, row.gate_ok) == (a, b, ok)


@pytest.mark.parametrize("n, expect", [(0, None), (3, True)])
def test_empty_makes_every_verdict_a_no_decision(spark, n, expect):
    row = release_gate(
        [_leg(spark, "n bigint", (n,)), _leg(spark, "bad bigint", (0,))],
        out=["n"],
        verdicts={"ok_bad": F.col("bad") == 0, "ok_live": F.lit(True)},
        ok="gate_ok",
        empty=F.col("n") == 0,
    ).first()
    assert (row.n, row.ok_bad, row.ok_live, row.gate_ok) == (n, expect, expect, expect)


def test_zero_row_leg_gives_zero_row_gate(spark):
    gate = release_gate(
        [_leg(spark, "n bigint", (5,)), _leg(spark, "x double")],
        out=["n", "x"],
        verdicts={"ok_x": F.col("x") > 0},
        ok="gate_ok",
    )
    assert gate.count() == 0


def test_columns_are_out_then_verdicts_then_ok(spark):
    gate = release_gate(
        [_leg(spark, "num bigint, den bigint", (3, 4)), _leg(spark, "z bigint", (0,))],
        derived={"frac": ratio("num", "den"), "undef": ratio("num", "z")},
        out=["undef", "frac", "den"],
        verdicts={"ok_z": F.col("z") == 0, "ok_frac": F.col("frac") < 1},
        ok="gate_ok",
    )
    assert gate.columns == ["undef", "frac", "den", "ok_z", "ok_frac", "gate_ok"]
    assert tuple(gate.first()) == (None, 0.75, 4, True, True, True)


def test_legs_go_through_the_module_materialize_legs(spark, monkeypatch):
    # perfbench/tracing.py times each leg by replacing
    # overlap.materialize_legs; release_gate must look it up at call time.
    calls = []
    real = overlap.materialize_legs

    def counting(*builders):
        calls.append(len(builders))
        return real(*builders)

    monkeypatch.setattr(overlap, "materialize_legs", counting)
    release_gate(
        [_leg(spark, f"{c} bigint", (1,)) for c in "abc"],
        out=["a", "b", "c"],
        verdicts={"ok": F.col("a") == 1},
        ok="gate_ok",
    ).collect()
    assert calls == [3]


def test_shared_frames_are_cached_while_the_legs_run(spark):
    cached = []

    def leg():
        cached.append(spark.range(7).storageLevel.useMemory)
        return spark.range(7).agg(F.count("*").alias("n"))

    gate = release_gate(
        [leg, _leg(spark, "z bigint", (0,))],
        out=["n"],
        verdicts={"ok_z": F.col("z") == 0},
        ok="gate_ok",
        shared=[spark.range(7)],
    )
    assert cached == [True]
    assert not spark.range(7).storageLevel.useMemory
    assert gate.first().n == 7


def test_leg_jobs_run_in_the_callers_job_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("overlap-legs", "release_gate legs")
    try:
        release_gate(
            [_leg(spark, "a bigint", (1,)), _leg(spark, "b bigint", (2,))],
            out=["a", "b"],
            verdicts={"ok": F.col("a") < F.col("b")},
            ok="gate_ok",
        )
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup("overlap-legs")) >= 2
