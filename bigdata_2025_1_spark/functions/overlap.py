"""The release-gate combinator: one verdict row from independent legs.

Every release gate reduces a few registered queries (its *legs*) to one
row of verdicts and their conjunction, the same way the gate's DuckDB
oracle does: each leg is a one-row CTE, the CTEs are CROSS JOINed, a
few cross-leg ratios are derived, and the verdicts are ANDed. The
contract :func:`release_gate` keeps:

- **One-row legs.** Each builder reduces its query to one row *inside*
  the leg, so materializing it is cheap. A leg that filters a spine to
  one operating point (``WHERE nprobe = ...``) keeps the oracle's CROSS
  JOIN semantics: zero matching rows give a zero-row gate.
- **Overlapped legs.** The legs are mutually independent job chains, so
  :func:`materialize_legs` builds and materializes each in its own
  driver thread; one leg's straggler tail back-fills executors the
  others free. Materialization is ``localCheckpoint()``: eager,
  executor-local and right for one-row frames that are rebuilt per run.
  Every leg computes exactly what it computes standalone.
- **Shared frames are the gate's.** A subtree that several legs read is
  passed as ``shared=``: the gate persists it before the leg threads
  spawn, so every leg plans against the one cache entry (concurrent
  reads coordinate through the block manager's per-block
  get-or-compute), and unpersists it once the legs have returned. The
  legs are checkpointed by then, so the assembled row never reads it.
- **Legs run as the caller.** Each leg thread inherits the caller's
  local properties (job group, description, job tags) and session tags,
  so its jobs are attributed to the query that started the gate.
"""

from __future__ import annotations

import operator
from collections.abc import Callable, Mapping, Sequence
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


# Looked up at call time: perfbench/tracing.py swaps it to time each leg.
def materialize_legs(
    *builders: "Callable[[], DataFrame]",
) -> "list[DataFrame]":
    """Build each leg and materialize it (localCheckpoint) in its own
    driver thread; return the materialized frames in argument order.

    Each leg gets its own ``inheritable_thread_target``: one call
    clones the caller's local properties once and installs that copy in
    every thread it wraps, and Spark writes each thread's SQL execution
    id into it."""
    session = SparkSession.active()
    legs = [
        inheritable_thread_target(session)(lambda b=build: b().localCheckpoint())
        for build in builders
    ]
    with ThreadPoolExecutor(max_workers=len(legs)) as pool:
        return list(pool.map(lambda leg: leg(), legs))


def ratio(num: "Column | str", den: "Column | str") -> Column:
    """``num / den`` as a double, NULL unless ``den > 0`` (the oracles'
    ``CASE WHEN den > 0 THEN num::DOUBLE / den END``)."""
    num, den = (F.col(c) if isinstance(c, str) else c for c in (num, den))
    return F.when(den > 0, num.cast("double") / den)


def release_gate(
    legs: "Sequence[Callable[[], DataFrame]]",
    *,
    out: "Sequence[str]",
    verdicts: "Mapping[str, Column]",
    ok: str,
    derived: "Mapping[str, Column] | None" = None,
    empty: "Column | None" = None,
    shared: "Sequence[DataFrame]" = (),
) -> DataFrame:
    """Assemble a release gate's one verdict row from its leg builders.

    The legs are materialized concurrently (:func:`materialize_legs`)
    and cross-joined in order, the later ones broadcast; ``derived``
    columns (cross-leg ratios) are added over the joined row. The
    result has the columns ``out``, then each verdict, then ``ok``, the
    verdicts' conjunction.

    Null semantics, identical to the oracles' three-valued logic: any
    FALSE verdict makes ``ok`` FALSE; otherwise any NULL (unknown)
    verdict makes it NULL. When ``empty`` is given and TRUE (the gate's
    input table is empty), every verdict and ``ok`` is NULL: an empty
    input is a no-decision, not a pass. Vacuous passes (TRUE for a
    verdict with nothing to judge on live input) belong in the
    verdict's own expression. A leg with zero rows yields a zero-row
    gate, as the oracles' CROSS JOIN does.

    ``shared`` frames are persisted while the legs run and unpersisted
    when they have returned.
    """
    for df in shared:
        df.persist()
    try:
        first, *rest = materialize_legs(*legs)
    finally:
        for df in shared:
            df.unpersist()
    gate = reduce(lambda acc, leg: acc.crossJoin(F.broadcast(leg)), rest, first)
    if derived:
        gate = gate.withColumns(dict(derived))
    if empty is not None:
        no_decision = F.lit(None).cast("boolean")
        verdicts = {
            name: F.when(empty, no_decision).otherwise(v)
            for name, v in verdicts.items()
        }
    return gate.select(
        *out, *(v.alias(name) for name, v in verdicts.items())
    ).withColumn(ok, reduce(operator.and_, map(F.col, verdicts)))
