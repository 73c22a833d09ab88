"""Distributed global ranking without the single-partition window.

``row_number().over(Window.orderBy(...))`` is the classic
does-not-survive-100x shape: Spark moves EVERY row into one window
partition (and logs "No Partition Defined for Window operation"). But a
global rank over a total order does not need a global funnel.
:func:`with_global_rank` and :func:`with_prefix_min` share one skeleton
(:func:`_ranged`) built from native Spark expressions only, so no Python
worker starts:

1. ``repartitionByRange`` on the order columns — Spark's sampling range
   partitioner gives non-overlapping, ordered partitions (partition i
   holds strictly lower keys than partition i+1) — then
   ``sortWithinPartitions``;
2. one ``monotonically_increasing_id()`` over the sorted partitions
   gives each row its partition ``_pid`` (the id's high bits) and its
   1-based partition-local position ``_pos`` (the low 33 bits, plus
   one), checkpointed with the rows;
3. a per-``_pid`` aggregate (row count, value sum or value min) is
   folded over all EARLIER partitions into an offset — a
   partition-count-sized table, broadcast back. A row's global rank is
   its offset plus ``_pos``; running sums and minimums add a window
   partitioned by ``_pid``.

The only non-partition-parallel step is the offset fold over
``n_partitions`` rows (a deliberate triangular broadcast join, n^2 pairs
of a tiny table, so no unpartitioned Window appears anywhere and the
single-partition warning never fires). ``tests/test_plans.py`` pins the
absence of ``Exchange SinglePartition`` for the operators built on this.

Limits: the id layout holds at most 2^33 (about 8.6e9) rows per range
partition. Running sums are ``long``; one that overflows raises under
ANSI mode (Spark 4's default) rather than wrapping.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

# monotonically_increasing_id() = partition index << 33 | row index
_POS_BITS = 33


def _total(c: Column) -> Column:
    return F.coalesce(F.sum(c), F.lit(0))


def _non_null(col: str, msg: str) -> Column:
    return F.coalesce(F.col(col), F.raise_error(F.lit(msg)))


def _ranged(
    df: DataFrame,
    order_cols: list[str],
    n: int,
    offsets: dict[str, tuple[Column, Callable[[Column], Column]]],
) -> DataFrame:
    """``df`` range-partitioned on ``order_cols`` into ``n`` ordered
    partitions and sorted within each, with ``_pid`` and ``_pos`` plus
    one column per ``offsets`` entry ``name: (agg, fold)``: the
    aggregate ``fold`` over the per-partition ``agg`` of every EARLIER
    partition (NULL for the first partition unless ``fold`` says
    otherwise)."""
    # The checkpoint is CORRECTNESS here, not caching: `parts` is
    # consumed twice (the per-partition aggregate and the rows that join
    # its offsets), and each unmaterialized evaluation plans its own
    # repartitionByRange whose RangePartitioner samples independently —
    # boundaries can differ between the two runs (observed on a
    # theta-join input: ranks went missing/duplicated), making the
    # offset of a _pid disagree with the rows that carry it. _pid and
    # _pos are computed below the checkpoint, so both consumers read ONE
    # materialization and one partition layout by construction.
    parts = (
        df.repartitionByRange(n, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.monotonically_increasing_id())
        .withColumn("_pos", F.col("_pid").bitwiseAND((1 << _POS_BITS) - 1) + 1)
        .withColumn("_pid", F.shiftright("_pid", _POS_BITS))
        .localCheckpoint()
    )
    per = parts.groupBy("_pid").agg(*[a.alias(k) for k, (a, _) in offsets.items()])
    earlier = per.select(*[F.col(c).alias(f"_b{c}") for c in per.columns])
    offs = (
        per.select("_pid")
        .join(F.broadcast(earlier), F.col("_b_pid") < F.col("_pid"), "left")
        .groupBy("_pid")
        .agg(*[fold(F.col(f"_b{k}")).alias(k) for k, (_, fold) in offsets.items()])
    )
    return parts.join(F.broadcast(offs), "_pid")


def _in_partition(end: int) -> WindowSpec:
    """Rows of the same range partition, from its first up to ``end``."""
    w = Window.partitionBy("_pid").orderBy("_pos")
    return w.rowsBetween(Window.unboundedPreceding, end)


def with_global_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "rn",
    num_parts: int | None = None,
    prefix_of: str | None = None,
    prefix_col: str = "cum",
) -> DataFrame:
    """Append ``rank_col``: the 1-based global row number of each row in
    the total order given by ``order_cols`` (which must be a unique key
    for the rank to be deterministic). With ``prefix_of`` set, also
    append ``prefix_col``: the INCLUSIVE global running sum of that
    non-null integer column over the same order (the distributed form
    of ``sum(x).over(orderBy(...).rowsBetween(unboundedPreceding,
    currentRow))`` — running totals, Pareto prefixes, CDFs). A NULL in
    it raises; a sum that overflows ``long`` raises under ANSI mode.

    Determinism: range-partition boundaries come from Spark's seeded
    reservoir sampling of a deterministic scan, and partitions are
    non-overlapping in the order key, so ``offset(partition) + local
    position/sum`` is the true global rank/prefix regardless of where
    boundaries land.

    Scale shape: a rank-only call has ONE full-data shuffle (the range
    exchange, read by both the numbering and the tiny per-partition
    counts). The ``prefix_of`` form adds one hash exchange on ``_pid``
    for its partition-local running-sum window. The offset table is
    ``n_partitions`` rows, broadcast back; output rank is int64 (a 100
    TB table overflows row_number's int32).
    """
    n = num_parts or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    offsets = {"_off": (F.count("*"), _total)}
    if prefix_of is not None:
        val = _non_null(
            prefix_of,
            f"with_global_rank: prefix_of column {prefix_of!r} must be "
            "non-null int64 (coalesce before ranking)",
        )
        offsets["_voff"] = (F.sum(val), _total)
    out = _ranged(df, order_cols, n, offsets).withColumn(
        rank_col, F.col("_off") + F.col("_pos")
    )
    if prefix_of is not None:
        run = F.sum(val).over(_in_partition(Window.currentRow))
        out = out.withColumn(prefix_col, F.col("_voff") + run)
    return out.drop("_pid", "_pos", "_off", "_voff")


def with_prefix_min(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "prefix_min",
) -> DataFrame:
    """Append ``out_col``: the EXCLUSIVE global running minimum of
    non-null int64 ``value_col`` over the total order given by
    ``order_cols`` (NULL for the globally-first row — nothing precedes
    it; a NULL value raises). The distributed form of
    ``min(x).over(orderBy(...).rowsBetween(unboundedPreceding, -1))`` —
    the sweep primitive behind skyline/frontier operators — built on the
    same skeleton as :func:`with_global_rank`: the range exchange, one
    hash exchange on ``_pid`` for the partition-local running-min
    window, and a partition-count-sized min-offset table broadcast back
    (no single-partition window anywhere)."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    val = _non_null(value_col, f"with_prefix_min: {value_col!r} must be non-null int64")
    run = F.min(val).over(_in_partition(-1))
    return (
        _ranged(df, order_cols, n, {"_moff": (F.min(val), F.min)})
        .withColumn(out_col, F.least(run, F.col("_moff")))
        .drop("_pid", "_pos", "_moff")
    )


def rank_after_limit(
    df: DataFrame,
    order_by: list,
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Distributed top-k, then rank ONLY the survivors: ``orderBy(...)
    .limit(k)`` compiles to ``TakeOrderedAndProject`` (per-partition
    partial top-k merged on the driver — no global sort, no data-sized
    shuffle), and the unpartitioned ``row_number`` window that follows
    runs over AT MOST ``k`` rows. Spark logs its "No Partition Defined
    for Window operation" warning at that second step — here it is
    EXPECTED AND BENIGN: the window input is k-bounded by construction,
    never data-sized, so the single partition holds ≤ k rows at any
    corpus scale. Every top-k-with-rank query in the repo routes through
    this helper so the idiom is self-documenting and grep-able.

    ``order_by`` is the shared total order (Columns, e.g.
    ``[F.desc("score"), F.col("id")]``); it must be a total order (unique
    tiebreaker) for the rank to be deterministic. ``rank_col`` is int32 —
    safe because k bounds it."""
    top = df.orderBy(*order_by).limit(k)
    rank = F.row_number().over(Window.orderBy(*order_by))
    return top.withColumn(rank_col, rank.cast("int"))


def cum_counts_over_values(
    vals: DataFrame,
    value_col: str,
    count_col: str = "vc",
    out_col: str = "cum_before",
    descending: bool = False,
) -> DataFrame:
    """Append ``out_col``: the EXCLUSIVE cumulative sum of ``count_col``
    over ``value_col`` order — the shared first step of every
    distinct-value rank-cut in this repo (equi-depth buckets, percentile
    gates, threshold sweeps, tail quantiles). ``vals`` must be one row
    per DISTINCT value (a count histogram), so the deliberate
    unpartitioned window runs over the VALUE DOMAIN — bounded by value
    cardinality, not data size (the documented exception to the
    no-global-window rule)."""
    order = F.desc(value_col) if descending else F.col(value_col)
    w = Window.orderBy(order).rowsBetween(Window.unboundedPreceding, -1)
    return vals.withColumn(out_col, F.coalesce(F.sum(count_col).over(w), F.lit(0)))


def boundary_rank_keep(
    rows: DataFrame,
    id_col: str,
    part_cols: list[str],
    cum_col: str = "cum_before",
    kcut_col: str = "kcut",
) -> DataFrame:
    """Keep the first ``kcut − cum_before`` rows (in ``id_col`` order) of
    each boundary value group — the second shared step of a rank cut:
    a row with 1-based in-group position j has global rank cum_before+j,
    so it survives iff cum_before + j ≤ kcut. The window is partitioned
    by the boundary group (``part_cols``) — per construction at most ONE
    value group per cut straddles the boundary, so this touches a single
    group's rows, never the table."""
    w = Window.partitionBy(*part_cols).orderBy(id_col)
    return (
        rows.withColumn("_rb", F.row_number().over(w))
        .filter(F.col(cum_col) + F.col("_rb") <= F.col(kcut_col))
        .drop("_rb")
    )
