"""Capture ``explain`` output programmatically.

The charter's scale bar — "is the filter pushed down? is the small side
broadcast? is the hot path in whole-stage codegen?" — is checkable from
the formatted plan string. tests/test_plans.py pins these properties for
the headline queries so a refactor that silently drops a broadcast or
blocks pushdown fails CI, not a 100 TB run.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


@contextmanager
def checkpointed_plans(spark: SparkSession) -> Iterator[list[str]]:
    """Collect, in order, the formatted plans of the frames
    local-checkpointed inside the block. A checkpoint's plan no longer
    shows in the plan of a frame that reads it, so a query's whole shape
    is its returned plan followed by these (``whole_plan``)."""
    plans: list[str] = []
    frame = type(spark.range(1))
    checkpoint = frame.localCheckpoint

    def spy(self, *args, **kwargs):
        plans.append(formatted_plan(self))
        return checkpoint(self, *args, **kwargs)

    frame.localCheckpoint = spy
    try:
        yield plans
    finally:
        frame.localCheckpoint = checkpoint


def whole_plan(df: DataFrame, checkpointed: list[str]) -> str:
    """``df``'s formatted plan followed by the ``checkpointed`` plans."""
    return "\n".join([formatted_plan(df), *checkpointed])


def executed_plan(df: DataFrame) -> str:
    """Final (post-AQE) executed plan — run the query first; codegen /
    AQE-chosen join strategies only appear here."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def plan_has(df: DataFrame, *needles: str) -> dict[str, bool]:
    plan = formatted_plan(df)
    return {n: (n in plan) for n in needles}


def single_partition_exchange_inputs(plan: str) -> list[str]:
    """The ``Input`` column list of every ``Exchange SinglePartition``
    node in formatted-plan text (several plans may be concatenated: a
    query's plan and the plans of the frames it local-checkpointed).
    The scale pin: none of these may carry a row-per-document/row-per-
    fact column (e.g. ``doc_id``) — a SinglePartition exchange is only
    acceptable for scalar-aggregate rows and distinct-value-domain
    tables."""
    out = []
    blocks = re.split(r"^\(\d+\) ", plan, flags=re.MULTILINE)
    for b in blocks:
        if not b.startswith("Exchange"):
            continue
        if not re.search(r"^Arguments: SinglePartition", b, flags=re.MULTILINE):
            continue
        m = re.search(r"^Input(?: \[\d+\])?: (.*)$", b, flags=re.MULTILINE)
        out.append(m.group(1) if m else "")
    return out


def window_node_inputs(plan: str) -> list[str]:
    """The ``Input`` column list of every ``Window`` node in
    formatted-plan text. The row-width pin: a window's sort buffers its
    whole input rows, so no wide payload column (e.g. a document
    ``text`` body) may enter a window — compute on skinny keys first,
    join the payload back after."""
    out = []
    blocks = re.split(r"^\(\d+\) ", plan, flags=re.MULTILINE)
    for b in blocks:
        if not (b.startswith("Window ") or b.startswith("Window\n")):
            continue
        m = re.search(r"^Input(?: \[\d+\])?: (.*)$", b, flags=re.MULTILINE)
        out.append(m.group(1) if m else "")
    return out


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan — the scale
    currency. (Broadcast exchanges are not counted; they are the cheap
    kind.)"""
    plan = formatted_plan(df)
    # count only the numbered node-detail lines, not the tree summary
    return len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.MULTILINE))
