"""One loop for the engine's lineage-truncating Spark iterations.

``iterate(step, state, rounds=..., changed=...)`` applies ``step`` to a
DataFrame state round by round and decides, in one place, how the loop
keeps its plan small and when it stops:

- **Lazy per-round truncation.** Every round's state is
  ``localCheckpoint(eager=False)`` (``checkpoint(eager=False)`` with
  ``reliable=True``), so the logical plan stays one round deep however
  many rounds run — without it a loop that reads its state twice per
  round doubles its plan every round and Catalyst analysis blows up
  within a handful of rounds. Lazy means a round's blocks are stored by
  the job that first computes them, not by a job of their own. (Under
  AQE, truncating a round whose step shuffles still runs that round's
  shuffle stages, each as a job; a narrow step runs none.)
- **One action per round, only with ``changed``.** A fixed-round loop
  (``changed=None``) runs no action of its own; each round's last
  stage runs inside the next round's jobs or the consumer's. A
  fixed-point loop counts the rows of the just-truncated state that
  match ``changed`` — the job that computes and stores the round is
  the one that counts it — and stops at the first round that changed
  nothing. Reaching the bound with rows still changing raises
  ``RuntimeError(err)``: a partial fixed point would be a silently
  wrong answer.

Rounds are not batched between convergence checks: under AQE each
shuffle inside a batch still runs as its own job, so batching saved no
scheduling while the rounds past the fixed point were wasted work
(measured at sf0.1 on every min-label site).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def iterate(
    step: Callable[[DataFrame], DataFrame],
    state: DataFrame,
    *,
    rounds: int,
    changed: Column | None = None,
    err: str = "iteration did not converge",
    reliable: bool = False,
) -> tuple[DataFrame, int]:
    """Run ``state = step(state)`` for up to ``rounds`` rounds and return
    ``(state, rounds_run)``.

    Without ``changed`` all ``rounds`` run. With it, the loop returns
    after the first round whose state has no row matching ``changed``,
    and raises ``RuntimeError(err)`` if round ``rounds`` still had one.

    Fault-tolerance trade (``reliable=``): the default
    ``localCheckpoint`` stores each round's blocks on the executors, so
    under executor loss the blocks are unrecoverable (no lineage to
    replay) and the job fails back to its last external snapshot —
    acceptable for a nightly batch. A long loop on preemptible executors
    should pass ``reliable=True`` for ``checkpoint()``, which writes each
    round to the directory set by ``sparkContext.setCheckpointDir``."""
    for n in range(1, rounds + 1):
        state = step(state)
        state = (
            state.checkpoint(eager=False)
            if reliable
            else state.localCheckpoint(eager=False)
        )
        if changed is not None and state.filter(changed).count() == 0:
            return state, n
    if changed is not None:
        raise RuntimeError(err)
    return state, rounds


def min_label_propagate(
    edges: DataFrame,
    labels0: DataFrame,
    *,
    max_rounds: int = 32,
    reliable: bool = False,
    err: str = "min-label propagation did not converge",
) -> DataFrame:
    """Run min-label propagation to the fixed point and return the
    converged ``(v, label)`` frame.

    ``edges`` is the DIRECTED propagation edge list ``(a, b)`` (labels
    flow a -> b; pass both directions for an undirected graph);
    ``labels0`` the initial ``(v, label)`` assignment. A component of
    diameter d needs d changing rounds plus one confirming identity
    round, so the loop runs at most ``max_rounds + 1`` rounds and
    raises RuntimeError(err) when the last one still changed a label
    (component diameter above ``max_rounds``) — returning partial
    labels would silently split real clusters. The round-start label
    rides each round as ``label0``, so the convergence check is a
    filter over the round's own blocks, not a join of two label
    frames. ``reliable`` is :func:`iterate`'s checkpoint choice."""

    def step(labels: DataFrame) -> DataFrame:
        cur = labels.select("v", "label", F.col("label").alias("label0"))
        prop = (
            edges.join(cur.select("v", "label"), edges["a"] == F.col("v"))
            .groupBy(edges["b"].alias("v2"))
            .agg(F.min("label").alias("nlabel"))
        )
        return cur.join(prop, cur["v"] == F.col("v2"), "left").select(
            "v",
            F.least(
                F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
            ).alias("label"),
            "label0",
        )

    labels, _ = iterate(
        step,
        labels0,
        rounds=max_rounds + 1,
        changed=F.col("label") != F.col("label0"),
        err=err,
        reliable=reliable,
    )
    return labels.select("v", "label")
