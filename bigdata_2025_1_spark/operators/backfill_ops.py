"""Backfill / reprocessing planning — the round-14 theme family.

The maintenance trilogy's third leg: ``incremental_ops`` (round 12)
maintains the standing rollup under ADDITIVE late data, ``cdc_ops``
(round 13) under CORRECTIONS and RETRACTIONS. This family answers the
question every long-lived pipeline eventually faces: the code that
PROCESSED some of those deliveries was wrong, a fix has shipped, and
the table must be partially recomputed. What must be backfilled, at
which granularity, in what order, at what cost — and how do we prove
the replay is exactly-once and actually converges to truth?

Reference provenance: the reference consumer is stateless per batch
(``/root/reference/spark/consumer.py:33-60``) and has no recompute or
restatement surface at all; this family is charter scope — the
reprocessing planner a 100 TB lakehouse deployment runs before every
backfill job.

Shared BUG/FIX MODEL (deterministic — layered on the cdc_ops change
stream, adding NO new randomness; every residue below is the round-13
model's own):

- the CDC record stream is exactly ``cdc_ops.with_changes`` /
  ``_CDC_SQL`` — one 'I' record per event plus one 'U'/'D' signed-delta
  record per changed event, processed in daily batches keyed by
  ``change_date``;
- a CODE FIX deploys ``FIX_OFFSET_DAYS`` before the change calendar's
  last day (``fix_date = max(change_date) - FIX_OFFSET_DAYS`` — a pure
  function of the data, the ``corrected_rollup_as_of`` cutoff
  convention), so post-fix processing days exist in-data;
- the bug was live for the ``BUG_SPAN_DAYS`` processing days before
  the fix: batches with ``fix_date - BUG_SPAN_DAYS <= change_date <
  fix_date`` ran the broken build;
- the BUG ITSELF: the correction writer applied U records'
  ``d_events`` (a no-op) but DROPPED their ``d_cents`` — corrections
  processed in the window silently failed to restate values. 'I' and
  'D' records were handled correctly, so event COUNTS are undamaged
  everywhere; only the cents of in-window-corrected events drifted.
  (The classic partial-apply bug: one column of the MERGE SET clause
  lost in a refactor.)

Everything downstream is derived from that one predicate ``is_bad``
(op = 'U' and change_date in the bug window): the dirty-key state
diff, the backfill plan, the per-granularity cost model, the priority
schedule, the chunked job shards, the exactly-once replay audit, the
post-replay verification, and the family release gate.

Two algorithms, one answer (the cdc_ops discipline): the Spark queries
fold SIGNED DELTAS and skip the bad ones; ``backfill_dirty_state``'s
oracle instead reads the EVENT-LEVEL last-writer-wins view (a
corrected event whose U landed in the window contributes its ORIGINAL
cents to the stored table) — the two derivations must meet on every
key.

Online-form convention: ``backfill_apply`` is the idempotent
per-record MERGE twin (state + an applied-(event_id, op) ledger);
tests/test_backfill_ops.py re-applies a chunk twice and pins state
equality, plus chunking invariance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_2025_1_spark.functions.overlap import ratio, release_gate
from bigdata_2025_1_spark.io import load
from bigdata_2025_1_spark.operators.cdc_ops import (
    _CDC_SQL,
    _EVT_SQL,
    with_changes,
)
from bigdata_2025_1_spark.registry import query

# --- the shared deterministic bug/fix model ----------------------------------

FIX_OFFSET_DAYS = 2  # the fix deploys 2 days before the calendar max
BUG_SPAN_DAYS = 5  # the broken build processed the 5 days before it
CHUNK_CAP = 5000  # backfill job shard size, in replay records
MAX_DIRTY_FRAC = "0.5"  # gate: above this, rebuild beats backfill
MAX_RESTATE_IMPACT = "0.001"  # gate: |restatement| / gross cents bound
# (measured worst case on the fixtures: 1.1e-4 at sf0.001, 6.6e-5 at
# sf0.01, 4.5e-5 at sf0.1 — the model's corrections are +/-$10 value
# reshuffles, so a >0.1% total drift means the bug is NOT the modeled
# dropped-column class and needs human adjudication, not auto-release)

# DuckDB fragment: the CDC record stream WITH the event_id MERGE key
# (cdc_ops' _CDC_SQL drops it — its consumers are all key-grained; the
# exactly-once audit dedups on (event_id, op), so it needs this
# id-bearing twin). Assumes a CTE named evt.
_CDC_ID_SQL = """
      SELECT event_id, event_type, event_date, arrival_date,
             arrival_date AS change_date, 'I' AS op,
             CAST(1 AS BIGINT) AS d_events, cents AS d_cents
      FROM evt
      UNION ALL
      SELECT event_id, event_type, event_date, arrival_date,
             arrival_date + chg_lag_days AS change_date, chg_op AS op,
             CAST(CASE WHEN chg_op = 'D' THEN -1 ELSE 0 END AS BIGINT)
               AS d_events,
             CASE WHEN chg_op = 'D' THEN -cents
                  ELSE revised_cents - cents END AS d_cents
      FROM evt WHERE chg_op <> ''
"""

# DuckDB fragment: the CDC record stream + fix_date + is_bad per record
# (assumes CTEs named evt and cdc, per cdc_ops conventions).
_REC_SQL = f"""
      SELECT c.*, x.fix_date,
             (c.op = 'U'
              AND c.change_date >= x.fix_date - {BUG_SPAN_DAYS}
              AND c.change_date < x.fix_date) AS is_bad
      FROM cdc c CROSS JOIN
           (SELECT MAX(change_date) - {FIX_OFFSET_DAYS} AS fix_date
            FROM cdc) x
"""

# DuckDB fragment: per-key replay state off the flagged record stream
# (assumes a CTE named rec).
_KEY_SQL = """
      SELECT event_date, event_type,
             MAX(fix_date) AS fix_date,
             CAST(SUM(d_events) AS BIGINT) AS n_events,
             CAST(SUM(d_cents) AS BIGINT) AS true_cents,
             CAST(SUM(CASE WHEN is_bad THEN 0 ELSE d_cents END) AS BIGINT)
               AS stored_cents,
             CAST(SUM(CASE WHEN is_bad THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bad_records,
             CAST(COUNT(*) AS BIGINT) AS n_replay_records,
             CAST(SUM(CASE WHEN op = 'I' THEN d_cents ELSE 0 END) AS BIGINT)
               AS gross_cents,
             MIN(change_date) AS replay_from,
             MIN(CASE WHEN is_bad THEN change_date END) AS first_bad_batch,
             MAX(CASE WHEN is_bad THEN change_date END) AS last_bad_batch
      FROM rec
      GROUP BY event_date, event_type
"""


def with_fix_flags(cdc: DataFrame) -> DataFrame:
    """The CDC record stream + (fix_date, is_bad) — the Spark twin of
    ``_REC_SQL``. ``fix_date`` is one broadcast scalar; ``is_bad``
    marks U records the broken build processed."""
    cut = cdc.agg(
        F.date_sub(F.max("change_date"), FIX_OFFSET_DAYS).alias("fix_date")
    )
    return cdc.crossJoin(F.broadcast(cut)).withColumn(
        "is_bad",
        (F.col("op") == "U")
        & (F.col("change_date") >= F.date_sub("fix_date", BUG_SPAN_DAYS))
        & (F.col("change_date") < F.col("fix_date")),
    )


def key_state(rec: DataFrame) -> DataFrame:
    """Per-key replay state (true vs stored-under-bug fold, bad-record
    counts, replay bounds) — the Spark twin of ``_KEY_SQL``. One
    map-side-combinable groupBy collapsing the record stream to the
    bounded (event_date x event_type) key domain."""
    return rec.groupBy("event_date", "event_type").agg(
        F.max("fix_date").alias("fix_date"),
        F.sum("d_events").cast("bigint").alias("n_events"),
        F.sum("d_cents").cast("bigint").alias("true_cents"),
        F.sum(F.when(F.col("is_bad"), 0).otherwise(F.col("d_cents")))
        .cast("bigint")
        .alias("stored_cents"),
        F.sum(F.when(F.col("is_bad"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_bad_records"),
        F.count("*").cast("bigint").alias("n_replay_records"),
        F.sum(F.when(F.col("op") == "I", F.col("d_cents")).otherwise(0))
        .cast("bigint")
        .alias("gross_cents"),
        F.min("change_date").alias("replay_from"),
        F.min(F.when(F.col("is_bad"), F.col("change_date"))).alias(
            "first_bad_batch"
        ),
        F.max(F.when(F.col("is_bad"), F.col("change_date"))).alias(
            "last_bad_batch"
        ),
    )


def _flagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagged CDC record stream. Its lineage holds two cdc-stream
    derivations (the fix_date cross-join aggregate and the main branch),
    so every extra consumer replays the events scan, version explode and
    flag unless the frame is materialized. Queries that read it several
    times checkpoint it; a single-pass reader does not, since the write
    is pure overhead for one read. ``backfill_release_gate`` shares it
    across its legs."""
    return with_fix_flags(with_changes(load(spark, sf_dir, "events")))


# --- 1. the dirty-state diff (what the bug actually did) ----------------------


@query(
    "backfill_dirty_state",
    oracle=f"""
    WITH evt AS (
      {_EVT_SQL}
    ), fx AS (
      SELECT MAX(CASE WHEN chg_op <> ''
                      THEN arrival_date + chg_lag_days
                      ELSE arrival_date END) - {FIX_OFFSET_DAYS} AS fix_date
      FROM evt
    ), ev2 AS (
      SELECT e.*, f.fix_date,
             (e.chg_op = 'U'
              AND e.arrival_date + e.chg_lag_days >= f.fix_date
                    - {BUG_SPAN_DAYS}
              AND e.arrival_date + e.chg_lag_days < f.fix_date) AS bad_corr
      FROM evt e CROSS JOIN fx f
    )
    SELECT event_date, event_type,
           MAX(fix_date) AS fix_date,
           CAST(SUM(CASE WHEN chg_op = 'D' THEN 0 ELSE 1 END) AS BIGINT)
             AS n_events,
           CAST(SUM(CASE WHEN chg_op = 'D' THEN 0
                         WHEN chg_op = 'U' THEN revised_cents
                         ELSE cents END) AS BIGINT) AS true_cents,
           CAST(SUM(CASE WHEN chg_op = 'D' THEN 0
                         WHEN chg_op = 'U' AND bad_corr THEN cents
                         WHEN chg_op = 'U' THEN revised_cents
                         ELSE cents END) AS BIGINT) AS stored_cents,
           CAST(SUM(CASE WHEN chg_op = 'D' THEN 0
                         WHEN chg_op = 'U' AND bad_corr THEN cents
                         WHEN chg_op = 'U' THEN revised_cents
                         ELSE cents END)
                - SUM(CASE WHEN chg_op = 'D' THEN 0
                           WHEN chg_op = 'U' THEN revised_cents
                           ELSE cents END) AS BIGINT) AS drift_cents,
           CAST(SUM(CASE WHEN bad_corr THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bad_records,
           SUM(CASE WHEN bad_corr THEN 1 ELSE 0 END) > 0 AS is_dirty
    FROM ev2
    GROUP BY event_date, event_type
    ORDER BY event_date, event_type
    """,
)
def backfill_dirty_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STATE DIFF the bug left behind, per rollup key: the true
    fold, the stored (bug-damaged) fold, their drift, and whether the
    key needs backfill. TWO ALGORITHMS, ONE ANSWER: this side folds the
    signed-delta record stream skipping the dropped deltas; the oracle
    reads the event-level last-writer-wins view (an event whose
    correction was processed by the broken build contributes its
    ORIGINAL cents to the stored table) — the derivations must meet on
    every key. ``n_events`` carries no drift column because the modeled
    bug only dropped the cents half of the U apply (counts were never
    wrong — the verification query pins that too).

    Scale shape: one map-side-combinable groupBy over the single
    flagged record scan, collapsing to the bounded key domain behind
    one broadcast fix_date scalar. Empty table -> empty result in both
    engines."""
    ks = key_state(_flagged(spark, sf_dir))
    return ks.select(
        "event_date",
        "event_type",
        "fix_date",
        "n_events",
        "true_cents",
        "stored_cents",
        (F.col("stored_cents") - F.col("true_cents"))
        .cast("bigint")
        .alias("drift_cents"),
        "n_bad_records",
        (F.col("n_bad_records") > 0).alias("is_dirty"),
    ).orderBy("event_date", "event_type")


# --- 2. the backfill plan (which keys, which batches) -------------------------


@query(
    "backfill_plan",
    oracle=f"""
    WITH evt AS (
      {_EVT_SQL}
    ), cdc AS (
      {_CDC_SQL}
    ), rec AS (
      {_REC_SQL}
    ), ks AS (
      {_KEY_SQL}
    )
    SELECT event_date, event_type, fix_date,
           n_bad_records, first_bad_batch, last_bad_batch,
           replay_from, n_replay_records,
           CAST(true_cents - stored_cents AS BIGINT) AS restatement_cents
    FROM ks
    WHERE n_bad_records > 0
    ORDER BY event_date, event_type
    """,
)
def backfill_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PARTITION-LEVEL BACKFILL PLAN: one row per dirty rollup key
    — how many bad applies hit it and when (first/last bad batch), how
    far back its replay must read (``replay_from`` = the key's first
    change batch: per-key recompute replays the key's FULL delta
    history, the only fold that needs no trust in the damaged state),
    how many records that replay touches, and the restatement the
    replay will apply (``true - stored``; the exact cents the fixed
    code writes back).

    This is the table the backfill job iterates — the round-13 verdict's
    "which keys/days must recompute given a code-fix date and the CDC
    log", with ``cdc_delta_log``'s change calendar as the provenance
    trail (every (first/last_bad_batch, key) pair is a delta-log row).

    Scale shape: the dirty-state groupBy plus a bounded filter — at a
    real lakehouse this is metadata-sized output (keys, not rows), the
    thing you can hold on the driver and turn into MERGE jobs."""
    ks = key_state(_flagged(spark, sf_dir))
    return (
        ks.filter(F.col("n_bad_records") > 0)
        .select(
            "event_date",
            "event_type",
            "fix_date",
            "n_bad_records",
            "first_bad_batch",
            "last_bad_batch",
            "replay_from",
            "n_replay_records",
            (F.col("true_cents") - F.col("stored_cents"))
            .cast("bigint")
            .alias("restatement_cents"),
        )
        .orderBy("event_date", "event_type")
    )


# --- 3. the bug-window day census ---------------------------------------------


@query(
    "backfill_day_census",
    oracle=f"""
    WITH evt AS (
      {_EVT_SQL}
    ), cdc AS (
      {_CDC_SQL}
    ), rec AS (
      {_REC_SQL}
    ), win AS (
      SELECT * FROM rec
      WHERE change_date >= fix_date - {BUG_SPAN_DAYS}
        AND change_date < fix_date
    ), days AS (
      SELECT change_date,
             CAST(COUNT(*) AS BIGINT) AS n_records_processed,
             CAST(SUM(CASE WHEN is_bad THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bad_records
      FROM win
      GROUP BY change_date
    ), dk AS (
      SELECT change_date, CAST(COUNT(*) AS BIGINT) AS n_dirty_keys_touched
      FROM (SELECT DISTINCT change_date, event_date, event_type
            FROM win WHERE is_bad)
      GROUP BY change_date
    )
    SELECT d.change_date, d.n_records_processed, d.n_bad_records,
           CAST(COALESCE(k.n_dirty_keys_touched, 0) AS BIGINT)
             AS n_dirty_keys_touched,
           CAST(d.n_bad_records AS DOUBLE) / d.n_records_processed
             AS bad_share
    FROM days d LEFT JOIN dk k ON d.change_date = k.change_date
    ORDER BY d.change_date
    """,
)
def backfill_day_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUG WINDOW by processing day: every batch the broken build
    ran, how many records it processed, how many of them it damaged
    (in-window U applies), how many rollup keys those touched, and the
    damage share. The audit row a postmortem quotes ("the build was
    live for N days and silently dropped X% of what it applied") and
    the day-level input to the cost model's 'event_day' granularity.

    Scale shape: one filtered groupBy over the flagged record scan
    (bounded by the window calendar) plus a distinct over (day x key) —
    both map-side-combinable, output <= {BUG_SPAN_DAYS} rows."""
    # not checkpointed: only two lineages read the window filter and the
    # A/B measured the materialization as a net loss here (1.66 -> 1.85 s);
    # inside the release gate this subtree reads the gate's shared frame
    rec = _flagged(spark, sf_dir)
    win = rec.filter(
        (F.col("change_date") >= F.date_sub("fix_date", BUG_SPAN_DAYS))
        & (F.col("change_date") < F.col("fix_date"))
    )
    days = win.groupBy("change_date").agg(
        F.count("*").cast("bigint").alias("n_records_processed"),
        F.sum(F.when(F.col("is_bad"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_bad_records"),
    )
    dk = (
        win.filter(F.col("is_bad"))
        .select("change_date", "event_date", "event_type")
        .distinct()
        .groupBy("change_date")
        .agg(F.count("*").cast("bigint").alias("n_dirty_keys_touched"))
    )
    return (
        days.join(dk, "change_date", "left")
        .select(
            "change_date",
            "n_records_processed",
            "n_bad_records",
            F.coalesce(F.col("n_dirty_keys_touched"), F.lit(0))
            .cast("bigint")
            .alias("n_dirty_keys_touched"),
            (
                F.col("n_bad_records").cast("double")
                / F.col("n_records_processed")
            ).alias("bad_share"),
        )
        .orderBy("change_date")
    )


# --- 4. the recompute cost model (granularity tradeoff) ------------------------


@query(
    "backfill_cost_by_granularity",
    oracle=f"""
    WITH evt AS (
      {_EVT_SQL}
    ), cdc AS (
      {_CDC_SQL}
    ), rec AS (
      {_REC_SQL}
    ), ks AS (
      {_KEY_SQL}
    ), ks2 AS (
      SELECT event_date, event_type,
             CASE WHEN n_bad_records > 0 THEN 1 ELSE 0 END AS dirty,
             n_replay_records
      FROM ks
    ), key_g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_units_total,
             CAST(COALESCE(SUM(dirty), 0) AS BIGINT) AS n_units_dirty,
             CAST(COALESCE(SUM(CASE WHEN dirty = 1 THEN n_replay_records
                                    ELSE 0 END), 0) AS BIGINT)
               AS n_replay_records
      FROM ks2
    ), day_u AS (
      SELECT event_date, MAX(dirty) AS dirty,
             SUM(n_replay_records) AS unit_rows
      FROM ks2 GROUP BY event_date
    ), day_g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_units_total,
             CAST(COALESCE(SUM(dirty), 0) AS BIGINT) AS n_units_dirty,
             CAST(COALESCE(SUM(CASE WHEN dirty = 1 THEN unit_rows
                                    ELSE 0 END), 0) AS BIGINT)
               AS n_replay_records
      FROM day_u
    ), typ_u AS (
      SELECT event_type, MAX(dirty) AS dirty,
             SUM(n_replay_records) AS unit_rows
      FROM ks2 GROUP BY event_type
    ), typ_g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_units_total,
             CAST(COALESCE(SUM(dirty), 0) AS BIGINT) AS n_units_dirty,
             CAST(COALESCE(SUM(CASE WHEN dirty = 1 THEN unit_rows
                                    ELSE 0 END), 0) AS BIGINT)
               AS n_replay_records
      FROM typ_u
    ), full_g AS (
      SELECT CAST(1 AS BIGINT) AS n_units_total,
             CAST(CASE WHEN COALESCE(MAX(dirty), 0) = 1 THEN 1 ELSE 0 END
                  AS BIGINT) AS n_units_dirty,
             CAST(CASE WHEN COALESCE(MAX(dirty), 0) = 1
                       THEN COALESCE(SUM(n_replay_records), 0)
                       ELSE 0 END AS BIGINT) AS n_replay_records
      FROM ks2
    ), allg AS (
      SELECT 'key' AS granularity, * FROM key_g
      UNION ALL SELECT 'event_day', * FROM day_g
      UNION ALL SELECT 'event_type', * FROM typ_g
      UNION ALL SELECT 'full', * FROM full_g
    )
    SELECT granularity, n_units_total, n_units_dirty, n_replay_records,
           CASE WHEN (SELECT n_replay_records FROM key_g) > 0
                THEN CAST(n_replay_records AS DOUBLE)
                     / (SELECT n_replay_records FROM key_g)
           END AS replay_amplification
    FROM allg
    ORDER BY granularity
    """,
)
def backfill_cost_by_granularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BACKFILL-COST MODEL: what each candidate recompute
    granularity touches. 'key' recomputes exactly the dirty
    (event_date x event_type) keys (the minimal correct unit — a key's
    replay needs its full history, nothing else); 'event_day'
    recomputes whole event-date partitions that contain any dirty key
    (what a partition-overwrite lakehouse job would do); 'event_type'
    recomputes whole type slices (what a per-stream consumer restart
    would do); 'full' rebuilds the table. ``replay_amplification`` is
    each option's record cost relative to the minimal 'key' plan — the
    number an operator trades against job-count overhead (at 100 TB,
    fewer/larger overwrite jobs often beat thousands of key-level
    MERGEs even at 2-3x record amplification; this row quantifies that
    trade instead of guessing it).

    Scale shape: everything derives from the bounded per-key state
    (one fact scan), then three tiny re-groupings of a <=
    |key domain|-row frame and a 4-row union. Empty table -> the four
    granularity rows with zero counts and NULL amplification."""
    ks2 = key_state(_flagged(spark, sf_dir)).select(
        "event_date",
        "event_type",
        F.when(F.col("n_bad_records") > 0, 1).otherwise(0).alias("dirty"),
        "n_replay_records",
    )

    def _roll(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.count("*").cast("bigint").alias("n_units_total"),
            F.coalesce(F.sum("dirty"), F.lit(0))
            .cast("bigint")
            .alias("n_units_dirty"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("dirty") == 1, F.col("n_replay_records")
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_replay_records"),
        ).select(F.lit(label).alias("granularity"), "*")

    key_g = _roll(ks2, "key")
    day_g = _roll(
        ks2.groupBy("event_date")
        .agg(
            F.max("dirty").alias("dirty"),
            F.sum("n_replay_records").alias("n_replay_records"),
        )
        .select("dirty", "n_replay_records"),
        "event_day",
    )
    typ_g = _roll(
        ks2.groupBy("event_type")
        .agg(
            F.max("dirty").alias("dirty"),
            F.sum("n_replay_records").alias("n_replay_records"),
        )
        .select("dirty", "n_replay_records"),
        "event_type",
    )
    full_g = ks2.agg(
        F.lit(1).cast("bigint").alias("n_units_total"),
        F.when(F.coalesce(F.max("dirty"), F.lit(0)) == 1, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("n_units_dirty"),
        F.when(
            F.coalesce(F.max("dirty"), F.lit(0)) == 1,
            F.coalesce(F.sum("n_replay_records"), F.lit(0)),
        )
        .otherwise(0)
        .cast("bigint")
        .alias("n_replay_records"),
    ).select(F.lit("full").alias("granularity"), "*")
    allg = key_g.unionByName(day_g).unionByName(typ_g).unionByName(full_g)
    base = key_g.select(
        F.col("n_replay_records").alias("key_replay_records")
    )
    return (
        allg.crossJoin(F.broadcast(base))
        .select(
            "granularity",
            "n_units_total",
            "n_units_dirty",
            "n_replay_records",
            F.when(
                F.col("key_replay_records") > 0,
                F.col("n_replay_records").cast("double")
                / F.col("key_replay_records"),
            ).alias("replay_amplification"),
        )
        .orderBy("granularity")
    )


# --- 5. the priority schedule (restatement-first ordering) ---------------------


@query(
    "backfill_priority_schedule",
    oracle=f"""
    WITH evt AS (
      {_EVT_SQL}
    ), cdc AS (
      {_CDC_SQL}
    ), rec AS (
      {_REC_SQL}
    ), ks AS (
      {_KEY_SQL}
    ), dirty AS (
      SELECT event_date, event_type,
             CAST(true_cents - stored_cents AS BIGINT) AS restatement_cents,
             CAST(ABS(true_cents - stored_cents) AS BIGINT)
               AS abs_restatement_cents
      FROM ks WHERE n_bad_records > 0
    ), ordered AS (
      SELECT *,
             CAST(ROW_NUMBER() OVER w AS BIGINT) AS priority_rank,
             CAST(SUM(abs_restatement_cents) OVER (w ROWS BETWEEN
                    UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_abs_cents,
             CAST(SUM(abs_restatement_cents) OVER () AS BIGINT)
               AS total_abs_cents
      FROM dirty
      WINDOW w AS (ORDER BY abs_restatement_cents DESC,
                            event_date, event_type)
    )
    SELECT priority_rank, event_date, event_type, restatement_cents,
           abs_restatement_cents, cum_abs_cents,
           CASE WHEN total_abs_cents > 0
                THEN CAST(cum_abs_cents AS DOUBLE) / total_abs_cents
           END AS cum_frac,
           (cum_abs_cents - abs_restatement_cents) * 10
             < total_abs_cents * 8 AS needed_for_80pct
    FROM ordered
    ORDER BY priority_rank
    """,
)
def backfill_priority_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ORDER the backfill should run in when it can't run all at
    once: dirty keys by absolute restatement descending (fix the
    biggest lies first), with the cumulative share of total drift each
    prefix repairs and the 80%-coverage cut (``needed_for_80pct`` uses
    exact integer arithmetic — ``prev_cum * 10 < total * 8`` — never a
    float threshold compare). Tie-break by key for full determinism.

    Scale shape: a global window over DIRTY KEYS ONLY — a
    bounded-value-domain frame (<= |key domain| rows), the same
    single-partition-of-tiny-rows shape as cdc's calendar windows;
    the fact scan itself stays distributed."""
    ks = key_state(_flagged(spark, sf_dir))
    dirty = ks.filter(F.col("n_bad_records") > 0).select(
        "event_date",
        "event_type",
        (F.col("true_cents") - F.col("stored_cents"))
        .cast("bigint")
        .alias("restatement_cents"),
        F.abs(F.col("true_cents") - F.col("stored_cents"))
        .cast("bigint")
        .alias("abs_restatement_cents"),
    )
    w = Window.orderBy(
        F.desc("abs_restatement_cents"), "event_date", "event_type"
    )
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wt = Window.partitionBy()
    ordered = dirty.select(
        "*",
        F.row_number().over(w).cast("bigint").alias("priority_rank"),
        F.sum("abs_restatement_cents")
        .over(wc)
        .cast("bigint")
        .alias("cum_abs_cents"),
        F.sum("abs_restatement_cents")
        .over(wt)
        .cast("bigint")
        .alias("total_abs_cents"),
    )
    return ordered.select(
        "priority_rank",
        "event_date",
        "event_type",
        "restatement_cents",
        "abs_restatement_cents",
        "cum_abs_cents",
        F.when(
            F.col("total_abs_cents") > 0,
            F.col("cum_abs_cents").cast("double")
            / F.col("total_abs_cents"),
        ).alias("cum_frac"),
        (
            (F.col("cum_abs_cents") - F.col("abs_restatement_cents")) * 10
            < F.col("total_abs_cents") * 8
        ).alias("needed_for_80pct"),
    ).orderBy("priority_rank")


# --- 6. the chunked job shards -------------------------------------------------


@query(
    "backfill_chunk_plan",
    oracle=f"""
    WITH evt AS (
      {_EVT_SQL}
    ), cdc AS (
      {_CDC_SQL}
    ), rec AS (
      {_REC_SQL}
    ), ks AS (
      {_KEY_SQL}
    ), dirty AS (
      SELECT event_date, event_type, n_replay_records
      FROM ks WHERE n_bad_records > 0
    ), laid AS (
      SELECT *,
             CAST(SUM(n_replay_records) OVER (ORDER BY event_date,
                    event_type ROWS BETWEEN UNBOUNDED PRECEDING AND
                    CURRENT ROW) AS BIGINT) AS cum_records
      FROM dirty
    )
    SELECT CAST((cum_records - n_replay_records) // {CHUNK_CAP} AS BIGINT)
             AS chunk_id,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n_replay_records) AS BIGINT) AS n_records,
           MIN(event_date) AS first_event_date,
           MAX(event_date) AS last_event_date
    FROM laid
    GROUP BY 1
    ORDER BY chunk_id
    """,
)
def backfill_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The backfill SHARDED INTO JOBS: dirty keys in deterministic key
    order, greedily packed into chunks of ~{CHUNK_CAP} replay records
    (a key never splits — each chunk is a self-contained set of
    full-history key replays, so chunks can run in any order, in
    parallel, and retry independently; that is what makes the backfill
    a FLEET of small idempotent MERGE jobs instead of one giant one).
    ``chunk_id = floor(preceding_records / {CHUNK_CAP})`` — exact
    integer arithmetic, identical in both engines.

    Scale shape: the cumulative layout runs over dirty KEYS (bounded
    value domain); the records themselves never move here — this is
    the shard MANIFEST, not the shard data."""
    ks = key_state(_flagged(spark, sf_dir))
    dirty = ks.filter(F.col("n_bad_records") > 0).select(
        "event_date", "event_type", "n_replay_records"
    )
    wc = Window.orderBy("event_date", "event_type").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    laid = dirty.select(
        "*",
        F.sum("n_replay_records").over(wc).cast("bigint").alias(
            "cum_records"
        ),
    )
    return (
        laid.groupBy(
            F.floor(
                (F.col("cum_records") - F.col("n_replay_records"))
                / F.lit(CHUNK_CAP)
            )
            .cast("bigint")
            .alias("chunk_id")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_keys"),
            F.sum("n_replay_records").cast("bigint").alias("n_records"),
            F.min("event_date").alias("first_event_date"),
            F.max("event_date").alias("last_event_date"),
        )
        .orderBy("chunk_id")
    )


# --- 7. the exactly-once replay audit ------------------------------------------


@query(
    "idempotent_replay_audit",
    oracle=f"""
    WITH evt AS (
      {_EVT_SQL}
    ), cdc AS (
      {_CDC_ID_SQL}
    ), rec AS (
      {_REC_SQL}
    ), dks AS (
      SELECT DISTINCT event_date, event_type FROM rec WHERE is_bad
    ), replay AS (
      SELECT r.* FROM rec r JOIN dks
        ON r.event_date = dks.event_date
       AND r.event_type = dks.event_type
    ), doubled AS (
      SELECT * FROM replay UNION ALL SELECT * FROM replay
    ), dd AS (
      SELECT DISTINCT event_id, op, event_type, d_events, d_cents
      FROM doubled
    ), o AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_replay_records,
             CAST(SUM(d_cents) AS BIGINT) AS once_cents
      FROM replay GROUP BY event_type
    ), t AS (
      SELECT event_type,
             CAST(SUM(d_cents) AS BIGINT) AS naive_twice_cents
      FROM doubled GROUP BY event_type
    ), d AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_dedup_records,
             CAST(SUM(d_cents) AS BIGINT) AS dedup_cents
      FROM dd GROUP BY event_type
    )
    SELECT o.event_type, o.n_replay_records, o.once_cents,
           t.naive_twice_cents, d.dedup_cents,
           (d.dedup_cents = o.once_cents
            AND d.n_dedup_records = o.n_replay_records) AS exactly_once_ok
    FROM o JOIN t ON o.event_type = t.event_type
           JOIN d ON o.event_type = d.event_type
    ORDER BY o.event_type
    """,
)
def idempotent_replay_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXACTLY-ONCE ACCOUNTING ROW: replaying the backfill's record
    set TWICE (the failure mode every retried distributed job has) must
    fold to the same state as once — which is only true if the apply is
    keyed. Per event type: the replay set folded once, folded naively
    doubled (the wrong answer a keyless apply produces — exactly 2x,
    shown, not asserted), and folded through the (event_id, op)
    MERGE-key dedup (the mechanism); ``exactly_once_ok`` pins dedup ==
    once on both cents and record count. The online twin
    (``backfill_apply``) implements the same ledger imperatively and
    tests re-apply a chunk twice against it.

    Scale shape: the dedup is a hash repartition by the MERGE key —
    exactly the shuffle a real idempotent writer pays, linear in the
    replay set; the per-type collapses are map-side combinable."""
    rec = _flagged(spark, sf_dir).localCheckpoint()
    dks = (
        rec.filter(F.col("is_bad"))
        .select("event_date", "event_type")
        .distinct()
    )
    # checkpointed: FIVE lineages read the replay set (the once-fold, the
    # doubled fold twice via unionByName, and the MERGE-key dedup's two
    # copies) — without it each replays the broadcast join
    # against the flagged stream (round 14)
    replay = rec.join(F.broadcast(dks), ["event_date", "event_type"]).localCheckpoint()
    doubled = replay.unionByName(replay)
    dd = doubled.select(
        "event_id", "op", "event_type", "d_events", "d_cents"
    ).distinct()
    o = replay.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_replay_records"),
        F.sum("d_cents").cast("bigint").alias("once_cents"),
    )
    t = doubled.groupBy("event_type").agg(
        F.sum("d_cents").cast("bigint").alias("naive_twice_cents")
    )
    d = dd.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_dedup_records"),
        F.sum("d_cents").cast("bigint").alias("dedup_cents"),
    )
    return (
        o.join(t, "event_type")
        .join(d, "event_type")
        .select(
            "event_type",
            "n_replay_records",
            "once_cents",
            "naive_twice_cents",
            "dedup_cents",
            (
                (F.col("dedup_cents") == F.col("once_cents"))
                & (F.col("n_dedup_records") == F.col("n_replay_records"))
            ).alias("exactly_once_ok"),
        )
        .orderBy("event_type")
    )


# --- 8. the restatement summary (what the fix changes, by type) -----------------


@query(
    "backfill_restatement_summary",
    oracle=f"""
    WITH evt AS (
      {_EVT_SQL}
    ), cdc AS (
      {_CDC_SQL}
    ), rec AS (
      {_REC_SQL}
    ), ks AS (
      {_KEY_SQL}
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN n_bad_records > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dirty_keys,
           CAST(SUM(stored_cents) AS BIGINT) AS stored_cents,
           CAST(SUM(true_cents) AS BIGINT) AS true_cents,
           CAST(SUM(true_cents - stored_cents) AS BIGINT)
             AS restatement_cents,
           CAST(SUM(ABS(true_cents - stored_cents)) AS BIGINT)
             AS abs_restatement_cents,
           CAST(SUM(gross_cents) AS BIGINT) AS gross_cents,
           CASE WHEN SUM(gross_cents) > 0
                THEN CAST(SUM(ABS(true_cents - stored_cents)) AS DOUBLE)
                     / SUM(gross_cents)
           END AS restatement_impact
    FROM ks
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def backfill_restatement_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the fix will RESTATE, by event type: stored vs true totals,
    the net and absolute cents the backfill writes back, and the
    restatement impact (absolute restatement / gross inserted cents —
    absolute, because per-key drifts cancel in the net and a
    cancellation is still a restatement the finance page must show).
    The adjudication row: a dropped-corrections bug should move well
    under {MAX_RESTATE_IMPACT} of gross; anything larger means the
    damage is NOT the modeled class.

    Scale shape: one re-grouping of the bounded per-key state frame."""
    ks = key_state(_flagged(spark, sf_dir))
    return (
        ks.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_keys"),
            F.sum(F.when(F.col("n_bad_records") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dirty_keys"),
            F.sum("stored_cents").cast("bigint").alias("stored_cents"),
            F.sum("true_cents").cast("bigint").alias("true_cents"),
            F.sum(F.col("true_cents") - F.col("stored_cents"))
            .cast("bigint")
            .alias("restatement_cents"),
            F.sum(F.abs(F.col("true_cents") - F.col("stored_cents")))
            .cast("bigint")
            .alias("abs_restatement_cents"),
            F.sum("gross_cents").cast("bigint").alias("gross_cents"),
        )
        .select(
            "event_type",
            "n_keys",
            "n_dirty_keys",
            "stored_cents",
            "true_cents",
            "restatement_cents",
            "abs_restatement_cents",
            "gross_cents",
            F.when(
                F.col("gross_cents") > 0,
                F.col("abs_restatement_cents").cast("double")
                / F.col("gross_cents"),
            ).alias("restatement_impact"),
        )
        .orderBy("event_type")
    )


# --- 9. the reprocessing watermark (how far back the job reads) -----------------


@query(
    "reprocessing_watermark",
    oracle=f"""
    WITH evt AS (
      {_EVT_SQL}
    ), cdc AS (
      {_CDC_SQL}
    ), rec AS (
      {_REC_SQL}
    ), dks AS (
      SELECT DISTINCT event_date, event_type FROM rec WHERE is_bad
    ), replay AS (
      SELECT r.* FROM rec r JOIN dks
        ON r.event_date = dks.event_date
       AND r.event_type = dks.event_type
    )
    SELECT event_type,
           MIN(change_date) AS replay_from,
           MAX(change_date) AS replay_until,
           CAST(date_diff('day', MIN(change_date), MAX(change_date)) + 1
                AS BIGINT) AS replay_span_days,
           CAST(COUNT(*) AS BIGINT) AS n_replay_records,
           MAX(fix_date) AS fix_date
    FROM replay
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def reprocessing_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOW FAR BACK the reprocessing job must read, per event type: the
    earliest and latest change batch any dirty key's full-history
    replay touches, the span in days, and the record count. This sizes
    the delta-log SCAN the backfill issues (the partition-pruning
    predicate of the replay read: ``change_date BETWEEN replay_from AND
    replay_until`` — at 100 TB the difference between reading 3 days
    and 30), against the fix date for the paging headline.

    Scale shape: broadcast-joined filter of the record scan down to
    dirty keys, then one map-side-combinable per-type collapse."""
    rec = _flagged(spark, sf_dir).localCheckpoint()
    dks = (
        rec.filter(F.col("is_bad"))
        .select("event_date", "event_type")
        .distinct()
    )
    replay = rec.join(F.broadcast(dks), ["event_date", "event_type"])
    return (
        replay.groupBy("event_type")
        .agg(
            F.min("change_date").alias("replay_from"),
            F.max("change_date").alias("replay_until"),
            (
                F.datediff(F.max("change_date"), F.min("change_date")) + 1
            )
            .cast("bigint")
            .alias("replay_span_days"),
            F.count("*").cast("bigint").alias("n_replay_records"),
            F.max("fix_date").alias("fix_date"),
        )
        .orderBy("event_type")
    )


# --- 10. the post-replay verification ------------------------------------------


@query(
    "backfill_verification_diff",
    oracle=f"""
    WITH evt AS (
      {_EVT_SQL}
    ), cdc AS (
      {_CDC_SQL}
    ), rec AS (
      {_REC_SQL}
    ), ks AS (
      {_KEY_SQL}
    ), patched AS (
      SELECT *,
             CASE WHEN n_bad_records > 0 THEN true_cents
                  ELSE stored_cents END AS patched_cents
      FROM ks
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN n_bad_records > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_keys_replayed,
           CAST(SUM(CASE WHEN stored_cents <> true_cents THEN 1 ELSE 0
                    END) AS BIGINT) AS n_drifted_before,
           CAST(SUM(CASE WHEN patched_cents <> true_cents THEN 1 ELSE 0
                    END) AS BIGINT) AS n_drifted_after,
           CAST(COALESCE(MAX(ABS(patched_cents - true_cents)), 0)
                AS BIGINT) AS max_abs_residual_cents,
           (SUM(CASE WHEN patched_cents <> true_cents THEN 1 ELSE 0 END)
              = 0) AS verified_ok
    FROM patched
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def backfill_verification_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The POST-REPLAY VERIFICATION: simulate the backfill (dirty keys
    replaced by their full-history replay, clean keys kept from the
    stored table) and diff the patched table against truth, per event
    type — how many keys drifted BEFORE (the damage census; a dirty key
    whose correction delta was 0 cents is replayed but was never
    drifted), how many still drift AFTER (must be 0), the worst
    residual (must be 0), and the per-type verdict. The acceptance row
    a backfill runbook ends with: "replay converged, residual zero,
    close the incident".

    Scale shape: pure column arithmetic over the bounded per-key state
    frame, one re-grouping."""
    ks = key_state(_flagged(spark, sf_dir))
    patched = ks.withColumn(
        "patched_cents",
        F.when(
            F.col("n_bad_records") > 0, F.col("true_cents")
        ).otherwise(F.col("stored_cents")),
    )
    return (
        patched.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_keys"),
            F.sum(F.when(F.col("n_bad_records") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_keys_replayed"),
            F.sum(
                F.when(
                    F.col("stored_cents") != F.col("true_cents"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_drifted_before"),
            F.sum(
                F.when(
                    F.col("patched_cents") != F.col("true_cents"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_drifted_after"),
            F.coalesce(
                F.max(F.abs(F.col("patched_cents") - F.col("true_cents"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("max_abs_residual_cents"),
        )
        .select(
            "*",
            (F.col("n_drifted_after") == 0).alias("verified_ok"),
        )
        .orderBy("event_type")
    )


# --- 11. the family release gate -------------------------------------------------


def _backfill_gate_oracle() -> str:
    # Compose the legs' REGISTERED oracles verbatim (the release-gate
    # convention) — all legs are registered above in this module.
    from bigdata_2025_1_spark.registry import ORACLES as _O

    return f"""
    WITH st AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(COALESCE(SUM(CASE WHEN is_dirty THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_dirty_keys,
             MAX(fix_date) AS fix_date
      FROM ({_O["backfill_dirty_state"]})
    ), cost AS (
      SELECT n_replay_records
      FROM ({_O["backfill_cost_by_granularity"]})
      WHERE granularity = 'key'
    ), summ AS (
      SELECT CAST(COALESCE(SUM(restatement_cents), 0) AS BIGINT)
               AS restatement_cents,
             CAST(COALESCE(SUM(abs_restatement_cents), 0) AS BIGINT)
               AS abs_restatement_cents,
             CAST(COALESCE(SUM(gross_cents), 0) AS BIGINT) AS gross_cents
      FROM ({_O["backfill_restatement_summary"]})
    ), idem AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN exactly_once_ok THEN 0 ELSE 1
                                    END), 0) AS BIGINT) AS n_bad_types
      FROM ({_O["idempotent_replay_audit"]})
    ), ver AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN verified_ok THEN 0 ELSE 1 END),
                           0) AS BIGINT) AS n_unverified
      FROM ({_O["backfill_verification_diff"]})
    ), vals AS (
      SELECT st.n_keys, st.n_dirty_keys, st.fix_date,
             cost.n_replay_records,
             summ.restatement_cents, summ.abs_restatement_cents,
             summ.gross_cents, idem.n_bad_types, ver.n_unverified,
             CASE WHEN st.n_keys > 0
                  THEN CAST(st.n_dirty_keys AS DOUBLE) / st.n_keys
             END AS dirty_frac,
             CASE WHEN summ.gross_cents > 0
                  THEN CAST(summ.abs_restatement_cents AS DOUBLE)
                       / summ.gross_cents
             END AS restatement_impact
      FROM st CROSS JOIN cost CROSS JOIN summ CROSS JOIN idem
              CROSS JOIN ver
    ), oks AS (
      SELECT *,
             CASE WHEN n_keys = 0 THEN NULL
                  ELSE dirty_frac <= {MAX_DIRTY_FRAC} END AS ok_scope,
             CASE WHEN n_keys = 0 THEN NULL
                  WHEN n_dirty_keys = 0 THEN TRUE
                  WHEN restatement_impact IS NULL THEN NULL
                  ELSE restatement_impact <= {MAX_RESTATE_IMPACT}
             END AS ok_impact,
             CASE WHEN n_keys = 0 THEN NULL
                  ELSE n_bad_types = 0 END AS ok_idempotent,
             CASE WHEN n_keys = 0 THEN NULL
                  ELSE n_unverified = 0 END AS ok_verified
      FROM vals
    )
    SELECT n_keys, n_dirty_keys, dirty_frac, fix_date, n_replay_records,
           restatement_cents, restatement_impact,
           ok_scope, ok_impact, ok_idempotent, ok_verified,
           (ok_scope AND ok_impact AND ok_idempotent AND ok_verified)
             AS backfill_ok
    FROM oks
    """


@query("backfill_release_gate", oracle=_backfill_gate_oracle())
def backfill_release_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BACKFILL GO/NO-GO, in one row — the family's capstone,
    extending the release-gate convention to its SEVENTH operational
    family. Composes, by CALLING the registered queries so the verdict
    can never drift from what each leg certifies:

    - ``backfill_dirty_state``          -> scope: dirty_frac (gate: <=
      {MAX_DIRTY_FRAC} — beyond that a full rebuild beats a surgical
      backfill and this plan should not auto-run);
    - ``backfill_restatement_summary``  -> impact: absolute restatement
      over gross cents (gate: <= {MAX_RESTATE_IMPACT} — a larger move
      means the damage is not the modeled dropped-corrections class);
    - ``idempotent_replay_audit``       -> every event type's replay is
      exactly-once under the (event_id, op) MERGE key (gate: 0 failing
      types — a non-idempotent apply may not be retried, so it may not
      be launched);
    - ``backfill_verification_diff``    -> the simulated post-replay
      table matches truth with zero residual on every type;
    - ``backfill_cost_by_granularity``  -> the minimal 'key'-plan
      replay size rides along as the headline cost.

    ``backfill_ok`` is the three-valued conjunction: any FALSE leg
    denies; an EMPTY events table yields NULL verdicts and a NULL
    backfill_ok (a no-decision, not a pass). A live table with ZERO
    dirty keys passes vacuously (nothing to backfill — the gate is
    green and the plan is empty). Impact undefined DESPITE live dirty
    keys (zero/negative gross — a broken cents pipeline) is a NULL
    no-decision, never a silent pass (the ann_release_gate hardening).

    Scale shape: the legs are bounded aggregates; the gate's cost is
    the sum of its legs, which read one cached flagged record stream."""
    return release_gate(
        [
            lambda: backfill_dirty_state(spark, sf_dir).agg(
                F.count("*").cast("bigint").alias("n_keys"),
                F.coalesce(
                    F.sum(F.when(F.col("is_dirty"), 1).otherwise(0)), F.lit(0)
                )
                .cast("bigint")
                .alias("n_dirty_keys"),
                F.max("fix_date").alias("fix_date"),
            ),
            lambda: backfill_cost_by_granularity(spark, sf_dir)
            .filter(F.col("granularity") == "key")
            .select("n_replay_records"),
            lambda: backfill_restatement_summary(spark, sf_dir).agg(
                F.coalesce(F.sum("restatement_cents"), F.lit(0))
                .cast("bigint")
                .alias("restatement_cents"),
                F.coalesce(F.sum("abs_restatement_cents"), F.lit(0))
                .cast("bigint")
                .alias("abs_restatement_cents"),
                F.coalesce(F.sum("gross_cents"), F.lit(0))
                .cast("bigint")
                .alias("gross_cents"),
            ),
            lambda: idempotent_replay_audit(spark, sf_dir).agg(
                F.coalesce(
                    F.sum(F.when(F.col("exactly_once_ok"), 0).otherwise(1)),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("n_bad_types")
            ),
            lambda: backfill_verification_diff(spark, sf_dir).agg(
                F.coalesce(
                    F.sum(F.when(F.col("verified_ok"), 0).otherwise(1)), F.lit(0)
                )
                .cast("bigint")
                .alias("n_unverified")
            ),
        ],
        derived={
            "dirty_frac": ratio("n_dirty_keys", "n_keys"),
            "restatement_impact": ratio("abs_restatement_cents", "gross_cents"),
        },
        out=[
            "n_keys",
            "n_dirty_keys",
            "dirty_frac",
            "fix_date",
            "n_replay_records",
            "restatement_cents",
            "restatement_impact",
        ],
        verdicts={
            "ok_scope": F.col("dirty_frac") <= F.lit(float(MAX_DIRTY_FRAC)),
            # nothing dirty: vacuous pass; impact undefined despite dirty
            # keys stays NULL (impact <= x is NULL).
            "ok_impact": F.when(F.col("n_dirty_keys") == 0, F.lit(True)).otherwise(
                F.col("restatement_impact") <= F.lit(float(MAX_RESTATE_IMPACT))
            ),
            "ok_idempotent": F.col("n_bad_types") == 0,
            "ok_verified": F.col("n_unverified") == 0,
        },
        ok="backfill_ok",
        empty=F.col("n_keys") == 0,
        shared=[_flagged(spark, sf_dir)],
    )


# --- the online idempotent-apply twin -----------------------------------------
# The imperative MERGE the audit certifies: a standing keyed state plus
# an applied-(event_id, op) ledger. Re-applying any batch (a retried
# chunk, a duplicated delivery) is a no-op; chunking is invariant.
# tests/test_backfill_ops.py drives both properties.


def backfill_state_zero() -> "tuple[dict, set]":
    """(state, applied): state maps (event_date, event_type) ->
    [n_events, cents]; applied is the (event_id, op) ledger."""
    return {}, set()


def backfill_apply(state: dict, applied: set, records) -> None:
    """Apply signed-delta records idempotently, in place. ``records``
    yields (event_id, op, event_date, event_type, d_events, d_cents)
    tuples — re-applied records are skipped via the ledger."""
    for event_id, op, event_date, event_type, d_events, d_cents in records:
        k = (event_id, op)
        if k in applied:
            continue
        applied.add(k)
        cur = state.setdefault((event_date, event_type), [0, 0])
        cur[0] += d_events
        cur[1] += d_cents


def backfill_readout(state: dict) -> "list[tuple]":
    """Sorted (event_date, event_type, n_events, cents) rows."""
    return sorted(
        (kd, kt, v[0], v[1]) for (kd, kt), v in state.items()
    )
