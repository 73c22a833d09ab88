"""Iterative fixed-point helpers (optimization round 14).

The repo's three connected-components sites (``dedup_connected_components``,
``dbscan_roles_from_pairs``, ``hdbscan_lite_from_pairs``) all ran the same
min-label-propagation loop with TWO driver actions per round: an eager
frontier materialization (persist/localCheckpoint) and a convergence count
that re-joined the new frontier against the old. At bench scale the loops
are job-count-bound (each action costs a fixed scheduling round-trip; the
propagation itself is tiny), and at any scale the convergence join is a
whole extra pass over two label frames.

This helper fixes both:

- **Join-free convergence count.** The round-start label rides the
  frame as a ``label0`` column, so the check is a filter+count over the
  just-checkpointed blocks instead of a join of two label frames.

- **Lineage truncation.** Every round ends in a ``localCheckpoint()``,
  so the logical plan stays one round deep regardless of how many
  rounds the graph's diameter needs (the dbscan site documented
  Catalyst analysis blowing up past iteration 4 without truncation).

Batching several propagation rounds per convergence check was measured
at sf0.1 and regressed every site: under AQE each shuffle inside the
batch still runs as its own job, so batching saved no scheduling while
the rounds past the fixed point were wasted work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
    labels would silently split real clusters.

    Fault-tolerance trade (``reliable=``): the default
    ``localCheckpoint()`` stores each round's label blocks on the
    EXECUTORS and truncates lineage, so under executor loss at cluster
    scale the blocks are unrecoverable (no lineage to replay) and the
    whole job fails back to its last external snapshot — standard and
    acceptable for a nightly batch, but a long loop on preemptible
    executors should pass ``reliable=True`` to use plain
    ``checkpoint()`` (fault-tolerant, written to the directory the
    caller must first set via ``spark.sparkContext.setCheckpointDir``)
    at the cost of a filesystem write per round. Local default stays
    executor-local: same plan shape, no checkpoint dir needed."""
    labels = labels0
    for _ in range(max_rounds + 1):
        cur = labels.select("v", "label", F.col("label").alias("label0"))
        prop = (
            edges.join(cur.select("v", "label"), edges["a"] == F.col("v"))
            .groupBy(edges["b"].alias("v2"))
            .agg(F.min("label").alias("nlabel"))
        )
        cur = cur.join(prop, cur["v"] == F.col("v2"), "left").select(
            "v",
            F.least(
                F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
            ).alias("label"),
            "label0",
        )
        # LAZY checkpoint (round 15): eager=False defers materialization
        # into the convergence count below, so each round costs ONE
        # driver action (compute + store blocks + count changes in the
        # same job) instead of two. The blocks are still stored when
        # the job computes the RDD; the next round reads them.
        cur = (
            cur.checkpoint(eager=False)
            if reliable
            else cur.localCheckpoint(eager=False)
        )
        changed = cur.filter(F.col("label") != F.col("label0")).count()
        labels = cur.select("v", "label")
        if changed == 0:
            return labels
    raise RuntimeError(err)
