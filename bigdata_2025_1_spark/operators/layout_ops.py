"""Data-layout maintenance operators — the OPTIMIZE planning family.

A 100 TB table degrades in two independent ways: the SMALL-FILE problem
(streaming sinks and frequent ingests leave thousands of under-sized
files whose per-file overhead dominates scan time) and the CLUSTERING
problem (arrival order uncorrelated with query predicates makes every
file's min/max span the full value domain, so footer-based pruning
prunes nothing). Delta Lake's OPTIMIZE / Iceberg's rewriteDataFiles fix
the first by bin-packing small files to a target size; Z-ORDER / sort
re-clustering fixes the second. The PLANNING step for both is pure
metadata arithmetic over the table manifest — exactly the shape these
queries compute, expressed over LOGICAL ingest batches (one file per
daily trigger window, the streaming-sink layout this repo's consumer
writes) so the plan is data-derived and oracle-checkable rather than
bound to the test fixture's physical file count.

No reference counterpart (`/root/reference` has no storage-maintenance
surface); charter extension — the ops a training-data pipeline runs
nightly between ingest and the corpus release gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_2025_1_spark.io import load
from bigdata_2025_1_spark.registry import query

# One output file should hold this many rows (the maxFileSize knob,
# scaled to the fixture's row counts; a real deployment derives it from
# target bytes / avg row width). Files under HALF the target are worth
# rewriting — Delta's minFileSize convention.
COMPACT_TARGET_ROWS = 1000
COMPACT_SMALL_ROWS = 500

# Simulated file count for the clustering-depth comparison, and the
# decision thresholds for the maintenance gate.
LAYOUT_N_FILES = 16
LAYOUT_MAX_SMALL_FRAC = "0.3"  # >30% small files -> compaction pays
LAYOUT_MIN_DEPTH_RATIO = "2.0"  # re-sort must promise >=2x less overlap


@query(
    "compaction_plan_bins",
    oracle=f"""
    WITH per_file AS (
      SELECT CAST(ts AS DATE) AS batch_date,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM events GROUP BY CAST(ts AS DATE)
    ), tagged AS (
      SELECT batch_date, n_rows,
             CASE WHEN n_rows < {COMPACT_SMALL_ROWS}
                  THEN 'compact' ELSE 'keep' END AS action
      FROM per_file
    ), cum AS (
      SELECT batch_date, n_rows, action,
             CAST(COALESCE(SUM(CASE WHEN action = 'compact' THEN n_rows END)
                           OVER (ORDER BY batch_date
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING), 0)
                  AS BIGINT) AS cum_excl
      FROM tagged
    ), binned AS (
      SELECT batch_date, n_rows, action,
             CASE WHEN action = 'compact'
                  THEN CAST(cum_excl // {COMPACT_TARGET_ROWS} AS BIGINT)
             END AS out_bin
      FROM cum
    )
    SELECT batch_date, n_rows, action, out_bin,
           CASE WHEN action = 'compact'
                THEN CAST(SUM(n_rows) OVER (PARTITION BY out_bin) AS BIGINT)
           END AS bin_rows
    FROM binned
    ORDER BY batch_date
    """,
)
def compaction_plan_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE bin-packing PLAN over the events table's daily ingest
    batches (one logical file per day-trigger, the streaming-sink
    layout): batches under {COMPACT_SMALL_ROWS} rows are 'compact'
    candidates; batches at or above it are 'keep' (compaction never
    splits existing files). Compact batches pack greedily in batch-date
    order — bin = exclusive-cumulative-rows div {COMPACT_TARGET_ROWS},
    i.e. the virtual concatenation of small batches split at exact
    target offsets, each batch assigned to the bin containing its first
    row. Date-ordered packing keeps each output file's time range
    contiguous, preserving ts-based pruning after the rewrite.

    Output: one row per input batch — (batch_date, n_rows, action,
    out_bin, bin_rows), out_bin/bin_rows NULL for keeps. Deterministic:
    counts are exact integers, the bin id is integer division, and the
    per-bin fill is an integer window sum.

    Scale shape: the plan runs on the MANIFEST aggregate (one row per
    ingest batch — calendar-bounded), never on fact rows: one map-side-
    combinable groupBy(date) collapses the table, then the cumulative
    window orders batch-count rows. At 100 TB with file-level metadata
    available (Delta/Iceberg manifests, or `_metadata.file_path`), the
    same plan runs on the real file list with byte sizes — the
    arithmetic is unchanged."""
    per_file = (
        load(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("batch_date"))
        .agg(F.count("*").cast("bigint").alias("n_rows"))
    )
    tagged = per_file.select(
        "batch_date",
        "n_rows",
        F.when(F.col("n_rows") < COMPACT_SMALL_ROWS, F.lit("compact"))
        .otherwise(F.lit("keep"))
        .alias("action"),
    )
    # global window over batch-count rows (calendar-bounded, never facts)
    w_cum = Window.orderBy("batch_date").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = tagged.select(
        "*",
        F.coalesce(
            F.sum(
                F.when(F.col("action") == "compact", F.col("n_rows"))
            ).over(w_cum),
            F.lit(0),
        )
        .cast("bigint")
        .alias("cum_excl"),
    )
    binned = cum.select(
        "batch_date",
        "n_rows",
        "action",
        F.when(
            F.col("action") == "compact",
            F.expr(f"cum_excl div {COMPACT_TARGET_ROWS}"),
        )
        .cast("bigint")
        .alias("out_bin"),
    )
    w_bin = Window.partitionBy("out_bin")
    return binned.select(
        "*",
        F.when(
            F.col("action") == "compact",
            F.sum("n_rows").over(w_bin).cast("bigint"),
        ).alias("bin_rows"),
    ).orderBy("batch_date")


@query(
    "clustering_depth_compare",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey,
             CAST(date_diff('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE)) AS BIGINT) AS d
      FROM orders
    ), bounds AS (
      SELECT CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
             CAST(MIN(d) AS BIGINT) AS min_d,
             CAST(MAX(d) AS BIGINT) AS max_d
      FROM base
    ), assigned AS (
      SELECT 'arrival' AS layout,
             CAST((b.o_orderkey * {LAYOUT_N_FILES}) // (bo.max_key + 1)
                  AS BIGINT) AS file_id,
             b.d
      FROM base b CROSS JOIN bounds bo
      UNION ALL
      SELECT 'sorted_date' AS layout,
             CAST(((b.d - bo.min_d) * {LAYOUT_N_FILES})
                  // (bo.max_d - bo.min_d + 1) AS BIGINT) AS file_id,
             b.d
      FROM base b CROSS JOIN bounds bo
    ), files AS (
      SELECT layout, file_id,
             CAST(MIN(d) AS BIGINT) AS f_min,
             CAST(MAX(d) AS BIGINT) AS f_max
      FROM assigned GROUP BY layout, file_id
    ), ovl AS (
      SELECT a.layout, CAST(COUNT(*) AS BIGINT) AS n_overlap
      FROM files a JOIN files b
        ON a.layout = b.layout
       AND a.f_min <= b.f_max AND b.f_min <= a.f_max
      GROUP BY a.layout
    ), stats AS (
      SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_files,
             CAST(SUM(f_max - f_min + 1) AS BIGINT) AS coverage_days
      FROM files GROUP BY layout
    )
    SELECT s.layout, s.n_files,
           o.n_overlap::DOUBLE / s.n_files AS avg_overlap_depth,
           s.coverage_days::DOUBLE / (bo.max_d - bo.min_d + 1)
             AS expected_probe_files
    FROM stats s JOIN ovl o USING (layout) CROSS JOIN bounds bo
    ORDER BY s.layout
    """,
)
def clustering_depth_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality metric for two candidate layouts of the
    orders table, probed on o_orderdate — the signal an OPTIMIZE
    ZORDER / re-sort decision reads. Simulates {LAYOUT_N_FILES} files
    under (a) 'arrival' order — files = equal o_orderkey ranges, the
    as-ingested layout — and (b) 'sorted_date' — files = equal
    order-date ranges, the re-clustered layout — then measures what
    min/max footer pruning would see:

    - avg_overlap_depth: mean number of files whose [min,max] date
      range intersects a given file's range (self included). Depth ~
      n_files means every file spans the whole domain (pruning dead);
      depth 1.0 means disjoint ranges (pruning perfect).
    - expected_probe_files: files a uniform random single-day probe
      must scan = sum of per-file range widths / domain width.

    The fixture's arrival order is uncorrelated with date (corr ~ 0),
    so 'arrival' scores depth ~ {LAYOUT_N_FILES} while 'sorted_date'
    scores exactly 1.0 — the quantified case for re-clustering that
    ``layout_maintenance_plan`` gates on.

    Determinism: file ids are integer range arithmetic on exact ints
    (broadcast global bounds); both metrics are single double divisions
    of exact integer counts. Empty table -> empty result (no bounds, no
    files) in both engines.

    Scale shape: two scans of two columns each collapse map-side to
    {LAYOUT_N_FILES} file rows per layout; the overlap self-join is
    {LAYOUT_N_FILES}x{LAYOUT_N_FILES} per layout on a broadcast frame.
    At 100 TB the real variant reads per-file min/max straight from the
    manifest (no scan at all); the arithmetic is unchanged."""
    base = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1970-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("d"),
    )
    bounds = base.agg(
        F.max("o_orderkey").cast("bigint").alias("max_key"),
        F.min("d").cast("bigint").alias("min_d"),
        F.max("d").cast("bigint").alias("max_d"),
    )
    wb = base.crossJoin(F.broadcast(bounds))
    arrival = wb.select(
        F.lit("arrival").alias("layout"),
        F.expr(f"(o_orderkey * {LAYOUT_N_FILES}) div (max_key + 1)")
        .cast("bigint")
        .alias("file_id"),
        "d",
    )
    sorted_d = wb.select(
        F.lit("sorted_date").alias("layout"),
        F.expr(f"((d - min_d) * {LAYOUT_N_FILES}) div (max_d - min_d + 1)")
        .cast("bigint")
        .alias("file_id"),
        "d",
    )
    files = (
        arrival.unionByName(sorted_d)
        .groupBy("layout", "file_id")
        .agg(
            F.min("d").cast("bigint").alias("f_min"),
            F.max("d").cast("bigint").alias("f_max"),
        )
        .localCheckpoint()  # manifest-sized; feeds overlaps AND stats
    )
    fa, fb = files.alias("a"), files.alias("b")
    overlaps = (
        fa.join(
            F.broadcast(fb),
            (F.col("a.layout") == F.col("b.layout"))
            & (F.col("a.f_min") <= F.col("b.f_max"))
            & (F.col("b.f_min") <= F.col("a.f_max")),
        )
        .groupBy(F.col("a.layout").alias("layout"))
        .agg(F.count("*").cast("bigint").alias("n_overlap"))
    )
    stats = files.groupBy("layout").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum(F.col("f_max") - F.col("f_min") + 1)
        .cast("bigint")
        .alias("coverage_days"),
    )
    return (
        stats.join(overlaps, "layout")
        .crossJoin(F.broadcast(bounds))
        .select(
            "layout",
            "n_files",
            (F.col("n_overlap").cast("double") / F.col("n_files")).alias(
                "avg_overlap_depth"
            ),
            (
                F.col("coverage_days").cast("double")
                / (F.col("max_d") - F.col("min_d") + 1)
            ).alias("expected_probe_files"),
        )
        .orderBy("layout")
    )


def _layout_plan_oracle() -> str:
    # Compose the legs' REGISTERED oracles verbatim (the release-gate
    # convention): the decision can never drift from the plans the
    # correctness gate certifies leg by leg. Legs are registered above
    # in this module, so ORACLES already has them.
    from bigdata_2025_1_spark.registry import ORACLES as _O

    return f"""
    WITH plan AS (
      SELECT * FROM ({_O["compaction_plan_bins"]})
    ), comp AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_input_files,
             CAST(COALESCE(SUM(CASE WHEN action = 'compact' THEN 1 END), 0)
                  AS BIGINT) AS n_small_files,
             CAST(COUNT(DISTINCT out_bin)
                  + COALESCE(SUM(CASE WHEN action = 'keep' THEN 1 END), 0)
                  AS BIGINT) AS n_planned_files
      FROM plan
    ), depth AS (
      SELECT MAX(CASE WHEN layout = 'arrival'
                      THEN avg_overlap_depth END) AS arrival_depth,
             MAX(CASE WHEN layout = 'sorted_date'
                      THEN avg_overlap_depth END) AS sorted_depth
      FROM ({_O["clustering_depth_compare"]})
    ), vals AS (
      SELECT c.n_input_files, c.n_small_files, c.n_planned_files,
             CASE WHEN c.n_input_files > 0
                  THEN c.n_small_files::DOUBLE / c.n_input_files
             END AS small_file_frac,
             d.arrival_depth, d.sorted_depth,
             CASE WHEN d.sorted_depth > 0
                  THEN d.arrival_depth / d.sorted_depth
             END AS depth_ratio
      FROM comp c CROSS JOIN depth d
    )
    SELECT n_input_files, n_small_files, n_planned_files, small_file_frac,
           arrival_depth, sorted_depth, depth_ratio,
           small_file_frac > {LAYOUT_MAX_SMALL_FRAC} AS needs_compaction,
           depth_ratio >= {LAYOUT_MIN_DEPTH_RATIO} AS needs_recluster
    FROM vals
    """


@query("layout_maintenance_plan", oracle=_layout_plan_oracle())
def layout_maintenance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nightly LAYOUT MAINTENANCE DECISION, in one row — the
    release-gate convention applied to storage health. Composes, by
    CALLING the registered queries so the decision can never drift from
    the plans certified leg by leg:

    - ``compaction_plan_bins``     -> n_input_files / n_small_files /
      n_planned_files and small_file_frac (gate: needs_compaction when
      > {LAYOUT_MAX_SMALL_FRAC})
    - ``clustering_depth_compare`` -> arrival vs sorted overlap depth
      (gate: needs_recluster when arrival/sorted >=
      {LAYOUT_MIN_DEPTH_RATIO} — the re-sort must promise at least a
      2x pruning win to be worth the rewrite)

    Null semantics: an EMPTY table yields 0 counts, NULL fractions and
    NULL decisions (no-decision) under both engines' identical
    three-valued logic. Reconciliation against the standalone legs is
    pinned by tests/test_layout_ops.py.

    Scale shape: both legs are manifest-scale aggregations (see their
    docstrings); the decision reduces them to two 1-row frames joined
    by broadcast cross-join."""
    plan = compaction_plan_bins(spark, sf_dir)
    comp = plan.agg(
        F.count("*").cast("bigint").alias("n_input_files"),
        F.coalesce(
            F.sum(F.when(F.col("action") == "compact", 1)), F.lit(0)
        )
        .cast("bigint")
        .alias("n_small_files"),
        (
            F.countDistinct("out_bin")
            + F.coalesce(
                F.sum(F.when(F.col("action") == "keep", 1)), F.lit(0)
            )
        )
        .cast("bigint")
        .alias("n_planned_files"),
    )
    dcmp = clustering_depth_compare(spark, sf_dir)
    depth = dcmp.agg(
        F.max(
            F.when(F.col("layout") == "arrival", F.col("avg_overlap_depth"))
        ).alias("arrival_depth"),
        F.max(
            F.when(
                F.col("layout") == "sorted_date", F.col("avg_overlap_depth")
            )
        ).alias("sorted_depth"),
    )
    vals = comp.crossJoin(F.broadcast(depth)).select(
        "n_input_files",
        "n_small_files",
        "n_planned_files",
        F.when(
            F.col("n_input_files") > 0,
            F.col("n_small_files").cast("double") / F.col("n_input_files"),
        ).alias("small_file_frac"),
        "arrival_depth",
        "sorted_depth",
        F.when(
            F.col("sorted_depth") > 0,
            F.col("arrival_depth") / F.col("sorted_depth"),
        ).alias("depth_ratio"),
    )
    return vals.select(
        "*",
        (F.col("small_file_frac") > float(LAYOUT_MAX_SMALL_FRAC)).alias(
            "needs_compaction"
        ),
        (F.col("depth_ratio") >= float(LAYOUT_MIN_DEPTH_RATIO)).alias(
            "needs_recluster"
        ),
    )


# --- online form of the compaction planner ---------------------------------


def compaction_state_zero() -> dict:
    """Fresh state for :func:`compaction_update`: the next-fit tail —
    cumulative small-batch rows so far — plus per-bin fills. A factory,
    not a module constant (the state is mutable)."""
    return {"cum": 0, "bins": {}}


def compaction_update(state: dict, batches) -> "tuple[dict, list]":
    """Online compaction-planning state transition — the STREAMING form
    of ``compaction_plan_bins``'s arithmetic (the page_hinkley / cusum /
    lsh_index_update / ivf_cells_update convention): ``batches`` is the
    next run of ``(batch_date, n_rows)`` ingest batches in date order;
    each is classified keep/compact and, for compacts, assigned its
    output bin THE MOMENT IT ARRIVES — next-fit binning depends only on
    the prefix of small-batch rows, so a foreachBatch maintenance loop
    can emit the plan row per trigger without ever rescanning history.
    MUTATES ``state`` and returns ``(state, rows)`` where rows are
    ``(batch_date, n_rows, action, out_bin)`` — byte-identical to the
    batch query's first four columns under ANY chunking (property-
    tested). Per-bin fills (the batch query's ``bin_rows``) are a
    final-state readout via :func:`compaction_bin_fills`, since later
    arrivals may still join an open bin."""
    out = []
    for d, n in batches:
        if n < COMPACT_SMALL_ROWS:
            b = state["cum"] // COMPACT_TARGET_ROWS
            state["cum"] += n
            state["bins"][b] = state["bins"].get(b, 0) + n
            out.append((d, n, "compact", b))
        else:
            out.append((d, n, "keep", None))
    return state, out


def compaction_bin_fills(state: dict) -> dict:
    """Final per-bin fills from the online state — equals the batch
    query's ``bin_rows`` column grouped by ``out_bin``."""
    return dict(sorted(state["bins"].items()))


# --- retention / expiry planning -------------------------------------------

RETAIN_DAYS = 14  # ingest batches strictly older than this (relative to
# the NEWEST batch, not wall clock — determinism) are expiry candidates


@query(
    "retention_expiry_plan",
    oracle=f"""
    WITH per_batch AS (
      SELECT CAST(ts AS DATE) AS batch_date,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM events GROUP BY CAST(ts AS DATE)
    ), mx AS (
      SELECT MAX(batch_date) AS max_date FROM per_batch
    )
    SELECT b.batch_date, b.n_rows,
           CAST(date_diff('day', b.batch_date, mx.max_date) AS BIGINT)
             AS age_days,
           CASE WHEN date_diff('day', b.batch_date, mx.max_date)
                     >= {RETAIN_DAYS}
                THEN 'expire' ELSE 'retain' END AS action
    FROM per_batch b CROSS JOIN mx
    ORDER BY b.batch_date
    """,
)
def retention_expiry_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention / VACUUM PLAN over the events table's ingest batches —
    the third layout-lifecycle operator beside compaction
    (``compaction_plan_bins``) and re-clustering
    (``clustering_depth_compare``): batches {RETAIN_DAYS}+ days older
    than the NEWEST batch are expiry candidates. Age is measured
    against the data's own max date, never the wall clock, so the plan
    is a pure function of the snapshot (the repo-wide determinism
    contract — same reason the drift tests split on md5, not today).

    Output: one row per ingest batch — (batch_date, n_rows, age_days,
    action). Empty table -> empty plan in both engines.

    Scale shape: the same manifest collapse as the compaction plan
    (map-side-combinable groupBy to calendar-bounded batch rows) plus
    one broadcast max-date scalar; at 100 TB the per-batch rows come
    straight from partition metadata and the expiry executes as
    metadata-only partition drops."""
    per_batch = (
        load(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("batch_date"))
        .agg(F.count("*").cast("bigint").alias("n_rows"))
    )
    mx = per_batch.agg(F.max("batch_date").alias("max_date"))
    age = F.datediff(F.col("max_date"), F.col("batch_date"))
    return (
        per_batch.crossJoin(F.broadcast(mx))
        .select(
            "batch_date",
            "n_rows",
            age.cast("bigint").alias("age_days"),
            F.when(age >= RETAIN_DAYS, F.lit("expire"))
            .otherwise(F.lit("retain"))
            .alias("action"),
        )
        .orderBy("batch_date")
    )
