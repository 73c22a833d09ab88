"""CDC with corrections and retractions — the round-13 theme family.

The round-12 incremental family (``incremental_ops``) maintains ADDITIVE
late data: every delivery only ever adds to its key. Real MERGE
pipelines also process CORRECTIONS (a late record that REPLACES an
earlier value) and DELETES — and those break the append-only semigroup
story at the EVENT level: you cannot fold "replace 250 with -509" into
a running sum. The CDC answer, and this module's subject, is the
RETRACTION ENCODING: every change ships as a signed DELTA record
(insert +v, correction new-old, delete -v), which restores the
semigroup at the DELTA level — any chunking of the change stream folds
to the same state, pinned end-to-end here by a real foreachBatch loop.

Reference provenance: the reference consumer reports per-batch stats
only and holds no standing state (``/root/reference/spark/consumer.py:
33-60``); it has no correction or deletion surface at all. This family
is charter scope — the update/delete half of the lakehouse MERGE
convention whose insert half ``incremental_ops`` ships — with
``merge_upsert_latest_state`` (table_ops) as the last-writer-wins
surface the delta encoding must agree with.

Shared CORRECTION MODEL (deterministic, md5 like every split here —
never an RNG; layered ON TOP of incremental_ops' arrival model):

- events arrive per the r12 arrival model (``with_arrival``: md5
  residues make 10% of events 1-2 days late);
- ``md5_int('chg:' || event_id) % 25 == 0``  -> the event is later
  CORRECTED: its value is revised (a U record);       (~4%)
- ``md5_int('chg:' || event_id) % 25 == 12`` -> the event is later
  RETRACTED (a D record);                              (~4%)
  the residues are disjoint, so an event has at most ONE change and
  every corrected event is live — which is what makes the final state
  expressible BOTH as a per-event last-writer-wins read AND as a fold
  of signed deltas (the oracles deliberately use the former while the
  Spark queries fold the latter: two algorithms, one answer);
- the change is delivered ``1 + md5_int('lag:' || event_id) % 3`` days
  AFTER the original delivery (lag 1..3 — the reconciliation-window
  analog of delivery lateness);
- a correction revises the value by
  ``(md5_int('rev:' || event_id) % 2001) - 1000`` cents (±$10,
  symmetric; a 0 delta is a legal identity correction).

The CDC RECORD STREAM both engines derive from this model:

- op 'I' at change_date = arrival_date:            d_events +1, d_cents +cents
- op 'U' at change_date = arrival_date + lag:      d_events  0, d_cents revised-cents
- op 'D' at change_date = arrival_date + lag:      d_events -1, d_cents -cents

Online-form convention (the incremental_ops contract): the maintained
rollup ships its per-trigger Spark step (``cdc_step``), the associative
state merge (``cdc_merge``), a pure-Python twin (``cdc_update``), and a
REAL 3-trigger foreachBatch maintenance loop in tests/test_cdc_ops.py
pinning online state == batch replay under event_id chunking.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_2025_1_spark.functions.hashing import md5_int, sql_md5_int
from bigdata_2025_1_spark.functions.overlap import ratio, release_gate
from bigdata_2025_1_spark.io import load
from bigdata_2025_1_spark.operators.incremental_ops import (
    _ARR_SQL,
    py_cents,
    py_delay_days,
    with_arrival,
)
from bigdata_2025_1_spark.registry import query

# --- the shared deterministic correction model -------------------------------

CHG_MOD = 25  # md5_int('chg:' || event_id) % CHG_MOD selects changes:
CORR_RES = 0  # residue 0  -> the event is later CORRECTED   (4%)
RETR_RES = 12  # residue 12 -> the event is later RETRACTED  (4%)
LAG_SPAN = 3  # change lag: 1 + md5_int('lag:'||id) % 3 days after delivery
REV_SPAN = 2001  # revision delta: md5_int('rev:'||id) % 2001 - 1000 cents
REV_HALF = 1000
RECON_WINDOW_DAYS = 2  # the DEPLOYED reconciliation window (gate + audit)

# DuckDB fragment: arrival columns + (chg_op, chg_lag_days, revised_cents)
# per event — the event-level view every final-state oracle reads.
_EVT_SQL = f"""
      SELECT *,
             CASE {sql_md5_int("'chg:' || CAST(event_id AS VARCHAR)")}
                  % {CHG_MOD}
                  WHEN {CORR_RES} THEN 'U'
                  WHEN {RETR_RES} THEN 'D' ELSE '' END AS chg_op,
             CAST(1 + {sql_md5_int("'lag:' || CAST(event_id AS VARCHAR)")}
                  % {LAG_SPAN} AS INTEGER) AS chg_lag_days,
             CAST(cents
                  + ({sql_md5_int("'rev:' || CAST(event_id AS VARCHAR)")}
                     % {REV_SPAN}) - {REV_HALF} AS BIGINT) AS revised_cents
      FROM ({_ARR_SQL})
"""

# DuckDB fragment: the CDC record stream (assumes a CTE named evt).
_CDC_SQL = """
      SELECT event_type, event_date, arrival_date,
             arrival_date AS change_date, 'I' AS op,
             CAST(1 AS BIGINT) AS d_events, cents AS d_cents
      FROM evt
      UNION ALL
      SELECT event_type, event_date, arrival_date,
             arrival_date + chg_lag_days AS change_date, chg_op AS op,
             CAST(CASE WHEN chg_op = 'D' THEN -1 ELSE 0 END AS BIGINT)
               AS d_events,
             CASE WHEN chg_op = 'D' THEN -cents
                  ELSE revised_cents - cents END AS d_cents
      FROM evt WHERE chg_op <> ''
"""


def _tag(prefix: str) -> F.Column:
    return md5_int(F.concat(F.lit(prefix), F.col("event_id").cast("string")))


def chg_op_col() -> F.Column:
    """'U' / 'D' / '' per event — the Spark twin of _EVT_SQL's CASE."""
    m = _tag("chg:") % CHG_MOD
    return (
        F.when(m == CORR_RES, F.lit("U"))
        .when(m == RETR_RES, F.lit("D"))
        .otherwise(F.lit(""))
    )


def chg_lag_col() -> F.Column:
    """Days between an event's delivery and its change delivery (1..3)."""
    return (_tag("lag:") % LAG_SPAN + 1).cast("int")


def rev_delta_col() -> F.Column:
    """Signed correction delta in cents (±1000, md5-symmetric)."""
    return (_tag("rev:") % REV_SPAN - REV_HALF).cast("bigint")


def with_versions(ev: DataFrame) -> DataFrame:
    """events + arrival model + (chg_op, chg_lag_days, revised_cents) —
    the event-level (final-state) view."""
    return with_arrival(ev).select(
        "event_id",
        "user_id",
        "event_type",
        "event_date",
        "arrival_date",
        "cents",
        chg_op_col().alias("chg_op"),
        chg_lag_col().alias("chg_lag_days"),
        (F.col("cents") + rev_delta_col()).alias("revised_cents"),
    )


def with_changes(ev: DataFrame) -> DataFrame:
    """The CDC record stream: one 'I' record per event plus one 'U'/'D'
    record per changed event, as signed deltas — the Spark twin of
    _CDC_SQL, built as a single scan (each event emits a 2-slot record
    array whose second slot is NULL for unchanged events, exploded and
    filtered — no second pass over the source)."""
    evt = with_versions(ev)
    rec_i = F.struct(
        F.col("arrival_date").alias("change_date"),
        F.lit("I").alias("op"),
        F.lit(1).cast("bigint").alias("d_events"),
        F.col("cents").alias("d_cents"),
    )
    rec_c = F.when(
        F.col("chg_op") != "",
        F.struct(
            F.date_add("arrival_date", F.col("chg_lag_days")).alias(
                "change_date"
            ),
            F.col("chg_op").alias("op"),
            F.when(F.col("chg_op") == "D", F.lit(-1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("d_events"),
            F.when(F.col("chg_op") == "D", -F.col("cents"))
            .otherwise(F.col("revised_cents") - F.col("cents"))
            .cast("bigint")
            .alias("d_cents"),
        ),
    )
    return (
        evt.select(
            "event_id",
            "user_id",
            "event_type",
            "event_date",
            "arrival_date",
            F.explode(F.array(rec_i, rec_c)).alias("rec"),
        )
        .filter(F.col("rec").isNotNull())
        .select(
            "event_id",
            "user_id",
            "event_type",
            "event_date",
            "arrival_date",
            F.col("rec.change_date").alias("change_date"),
            F.col("rec.op").alias("op"),
            F.col("rec.d_events").alias("d_events"),
            F.col("rec.d_cents").alias("d_cents"),
        )
    )


def py_chg_op(event_id: int) -> str:
    """Plain-Python twin of :func:`chg_op_col`."""
    m = int(hashlib.md5(f"chg:{event_id}".encode()).hexdigest()[:12], 16)
    m %= CHG_MOD
    return "U" if m == CORR_RES else ("D" if m == RETR_RES else "")


def py_chg_lag(event_id: int) -> int:
    """Plain-Python twin of :func:`chg_lag_col`."""
    m = int(hashlib.md5(f"lag:{event_id}".encode()).hexdigest()[:12], 16)
    return 1 + m % LAG_SPAN


def py_rev_delta(event_id: int) -> int:
    """Plain-Python twin of :func:`rev_delta_col`."""
    m = int(hashlib.md5(f"rev:{event_id}".encode()).hexdigest()[:12], 16)
    return m % REV_SPAN - REV_HALF


# --- 1. the retraction-aware standing rollup (MERGE target) ------------------


@query(
    "cdc_corrected_rollup",
    oracle=f"""
    WITH evt AS (
      {_EVT_SQL}
    )
    SELECT event_date, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events_gross,
           CAST(SUM(CASE WHEN chg_op = 'U' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_corrected,
           CAST(SUM(CASE WHEN chg_op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_retracted,
           CAST(COUNT(*) - SUM(CASE WHEN chg_op = 'D' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN chg_op = 'D' THEN 0
                         WHEN chg_op = 'U' THEN revised_cents
                         ELSE cents END) AS BIGINT) AS value_cents,
           MAX(CASE WHEN chg_op = '' THEN arrival_date
                    ELSE arrival_date + chg_lag_days END)
             AS last_change_batch,
           COUNT(*) = SUM(CASE WHEN chg_op = 'D' THEN 1 ELSE 0 END)
             AS key_deleted
    FROM evt
    GROUP BY event_date, event_type
    ORDER BY event_date, event_type
    """,
)
def cdc_corrected_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standing keyed rollup AFTER the full CDC replay — the MERGE
    target once corrections and retractions exist: one row per
    (event_date, event_type) with the gross insert count, how many of
    its events were corrected / retracted, the NET live count and
    exact-cents value, the last batch that touched the key, and
    ``key_deleted`` — the key a MERGE would physically delete (every
    insert retracted; the row is kept here because the write-log that
    produced the delete is part of the state's audit surface).

    Two algorithms, one answer (the family's core cross-check): Spark
    FOLDS THE SIGNED DELTA STREAM (sum d_events / d_cents over
    ``with_changes`` — what an incremental MERGE actually executes),
    while the oracle reads the per-event FINAL STATE last-writer-wins
    (what ``merge_upsert_latest_state`` materializes). The retraction
    encoding is exactly the claim that these agree.

    Determinism: cents exact int64; the change model is md5-derived;
    no wall clock. Scale shape: ONE map-side-combinable groupBy over
    the change stream (1.08x the event scan, single pass via the
    2-slot record explode) collapsing to calendar x value-domain rows;
    nothing fact-sized crosses an exchange after the collapse."""
    cdc = with_changes(load(spark, sf_dir, "events"))
    out = cdc.groupBy("event_date", "event_type").agg(
        F.sum(F.when(F.col("op") == "I", 1).otherwise(0))
        .cast("bigint")
        .alias("n_events_gross"),
        F.sum(F.when(F.col("op") == "U", 1).otherwise(0))
        .cast("bigint")
        .alias("n_corrected"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0))
        .cast("bigint")
        .alias("n_retracted"),
        F.sum("d_events").cast("bigint").alias("n_events"),
        F.sum("d_cents").cast("bigint").alias("value_cents"),
        F.max("change_date").alias("last_change_batch"),
    )
    return out.select(
        "event_date",
        "event_type",
        "n_events_gross",
        "n_corrected",
        "n_retracted",
        "n_events",
        "value_cents",
        "last_change_batch",
        (F.col("n_events") == 0).alias("key_deleted"),
    ).orderBy("event_date", "event_type")


# --- 2. the I/U/D write-log --------------------------------------------------


@query(
    "cdc_delta_log",
    oracle=f"""
    WITH evt AS (
      {_EVT_SQL}
    ), cdc AS (
      {_CDC_SQL}
    ), per AS (
      SELECT change_date, event_date, event_type,
             CAST(SUM(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_inserts,
             CAST(SUM(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_updates,
             CAST(SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_deletes,
             CAST(SUM(d_events) AS BIGINT) AS n_events_delta,
             CAST(SUM(d_cents) AS BIGINT) AS value_cents_delta
      FROM cdc
      GROUP BY change_date, event_date, event_type
    ), cum AS (
      SELECT *,
             CAST(SUM(n_events_delta) OVER (w ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT) AS n_events_after,
             CAST(SUM(value_cents_delta) OVER (w ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT)
               AS value_cents_after
      FROM per
      WINDOW w AS (PARTITION BY event_date, event_type ORDER BY change_date)
    )
    SELECT change_date, event_date, event_type,
           CASE WHEN n_events_after - n_events_delta = 0 THEN 'insert'
                WHEN n_events_after = 0 THEN 'delete'
                ELSE 'update' END AS merge_op,
           n_inserts, n_updates, n_deletes,
           n_events_delta, value_cents_delta,
           n_events_after, value_cents_after
    FROM cum
    ORDER BY change_date, event_date, event_type
    """,
)
def cdc_delta_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``rollup_delta_log`` generalized to insert/update/delete — the
    WRITE-LOG an incremental MERGE produces while maintaining
    ``cdc_corrected_rollup``: one row per (change batch x touched key)
    with the op mix the batch delivered, the signed delta it
    contributed, the post-merge running totals, and ``merge_op`` — the
    branch the MERGE takes: 'insert' when the key's prior state was
    empty (first touch, or re-insert after a full retraction — prior
    state is exactly ``n_events_after - n_events_delta``, no extra
    window needed), 'delete' when the batch leaves the key at zero live
    events (the MERGE physically removes the row), else 'update'.

    Totality (a model invariant the tests pin): a key's first batch is
    always pure-I (every event's I precedes its U/D, and residues are
    disjoint so a deleted event can never be re-changed), hence
    prior=0 with after=0 is unreachable and the CASE is exhaustive.

    Reconciliation (pinned): each key's LAST log row equals
    ``cdc_corrected_rollup``'s (n_events, value_cents) — the log
    replays to the table; keys whose log ends in 'delete' are exactly
    its ``key_deleted`` rows.

    Scale shape: one groupBy over (change batch x key) — at most
    6 x calendar x value-domain rows (arrival spreads a key over <=3
    batches, changes over <=3 more); the cumulative window partitions
    BY KEY over those tiny sequences."""
    cdc = with_changes(load(spark, sf_dir, "events"))
    per = cdc.groupBy("change_date", "event_date", "event_type").agg(
        F.sum(F.when(F.col("op") == "I", 1).otherwise(0))
        .cast("bigint")
        .alias("n_inserts"),
        F.sum(F.when(F.col("op") == "U", 1).otherwise(0))
        .cast("bigint")
        .alias("n_updates"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0))
        .cast("bigint")
        .alias("n_deletes"),
        F.sum("d_events").cast("bigint").alias("n_events_delta"),
        F.sum("d_cents").cast("bigint").alias("value_cents_delta"),
    )
    wc = (
        Window.partitionBy("event_date", "event_type")
        .orderBy("change_date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per.select(
        "*",
        F.sum("n_events_delta").over(wc).cast("bigint").alias("n_events_after"),
        F.sum("value_cents_delta")
        .over(wc)
        .cast("bigint")
        .alias("value_cents_after"),
    )
    return cum.select(
        "change_date",
        "event_date",
        "event_type",
        F.when(
            F.col("n_events_after") - F.col("n_events_delta") == 0,
            F.lit("insert"),
        )
        .when(F.col("n_events_after") == 0, F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("merge_op"),
        "n_inserts",
        "n_updates",
        "n_deletes",
        "n_events_delta",
        "value_cents_delta",
        "n_events_after",
        "value_cents_after",
    ).orderBy("change_date", "event_date", "event_type")


# --- 3. the daily CDC feed profile (op mix + retraction monitor) -------------

SPIKE_MIN_CHANGES = 20  # spike verdicts need at least this many CHANGES
SPIKE_FACTOR = "1.5"  # a day spikes when its deletes' share OF CHANGES
# exceeds 1.5x the stream-wide share. Share-of-CHANGES, not of records:
# the calendar tail after ingest stops is pure-change days, so a
# share-of-records monitor structurally flags every tail day (measured:
# 3 false spike days at sf0.001), while U and D spill into the tail at
# the same rate, keeping share-of-changes flat (~0.5 under the model;
# measured worst supported day 0.667 at sf0.01 = 1.30x global, 0.556 at
# sf0.1 = 1.11x — 1.5x clears both while a one-day cancellation storm
# drives the share toward 1.0 = ~2x).


@query(
    "cdc_feed_daily_profile",
    oracle=f"""
    WITH evt AS (
      {_EVT_SQL}
    ), cdc AS (
      {_CDC_SQL}
    ), per AS (
      SELECT change_date,
             CAST(COUNT(*) AS BIGINT) AS n_records,
             CAST(SUM(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_inserts,
             CAST(SUM(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_updates,
             CAST(SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_deletes,
             CAST(SUM(d_events) AS BIGINT) AS d_events_net,
             CAST(SUM(d_cents) AS BIGINT) AS d_cents_net
      FROM cdc GROUP BY change_date
    ), overall AS (
      SELECT CAST(COALESCE(SUM(n_updates + n_deletes), 0) AS BIGINT)
               AS g_changes,
             CAST(COALESCE(SUM(n_deletes), 0) AS BIGINT) AS g_deletes
      FROM per
    )
    SELECT change_date, n_records, n_inserts, n_updates, n_deletes,
           CAST(n_updates + n_deletes AS BIGINT) AS n_changes,
           d_events_net, d_cents_net,
           CASE WHEN n_updates + n_deletes > 0
                THEN n_deletes::DOUBLE / (n_updates + n_deletes) END
             AS retraction_share,
           CASE WHEN g_changes > 0
                THEN g_deletes::DOUBLE / g_changes END
             AS global_retraction_share,
           n_updates + n_deletes >= {SPIKE_MIN_CHANGES}
             AND n_deletes::DOUBLE / (n_updates + n_deletes)
                 > {SPIKE_FACTOR} * (g_deletes::DOUBLE / g_changes)
             AS is_retraction_spike
    FROM per CROSS JOIN overall
    ORDER BY change_date
    """,
)
def cdc_feed_daily_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily CDC FEED PROFILE — what a downstream consumer sizes
    throughput and trust by: per change batch, the op mix (I/U/D
    counts), the net signed effect on the table, each day's retraction
    share, and ``is_retraction_spike`` — the data-quality monitor: a
    day whose deletes' share OF CHANGES exceeds {SPIKE_FACTOR}x the
    stream-wide share (with an n_changes >= {SPIKE_MIN_CHANGES} support
    guard so a 3-change day cannot spike) flags an upstream
    cancellation storm before it poisons the rollup. Share of CHANGES,
    deliberately not of records: the calendar tail after ingest stops
    is pure-change days, so a share-of-records monitor structurally
    flags every tail day, while U and D spill into the tail at the same
    rate — see the SPIKE_FACTOR note for the measured margins.

    Determinism: shares are single double divisions of exact counts;
    the spike comparison is the same IEEE chain in both engines.

    Scale shape: one map-side-combinable groupBy to calendar rows, one
    broadcast 1-row global frame; the monitor is a scan-free comparison
    over those rows."""
    cdc = with_changes(load(spark, sf_dir, "events"))
    per = cdc.groupBy("change_date").agg(
        F.count("*").cast("bigint").alias("n_records"),
        F.sum(F.when(F.col("op") == "I", 1).otherwise(0))
        .cast("bigint")
        .alias("n_inserts"),
        F.sum(F.when(F.col("op") == "U", 1).otherwise(0))
        .cast("bigint")
        .alias("n_updates"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0))
        .cast("bigint")
        .alias("n_deletes"),
        F.sum("d_events").cast("bigint").alias("d_events_net"),
        F.sum("d_cents").cast("bigint").alias("d_cents_net"),
    )
    glob = per.agg(
        F.coalesce(F.sum(F.col("n_updates") + F.col("n_deletes")), F.lit(0))
        .cast("bigint")
        .alias("g_changes"),
        F.coalesce(F.sum("n_deletes"), F.lit(0))
        .cast("bigint")
        .alias("g_deletes"),
    )
    n_changes = F.col("n_updates") + F.col("n_deletes")
    day_share = F.col("n_deletes").cast("double") / n_changes
    glob_share = F.col("g_deletes").cast("double") / F.col("g_changes")
    return (
        per.crossJoin(F.broadcast(glob))
        .select(
            "change_date",
            "n_records",
            "n_inserts",
            "n_updates",
            "n_deletes",
            n_changes.cast("bigint").alias("n_changes"),
            "d_events_net",
            "d_cents_net",
            F.when(n_changes > 0, day_share).alias("retraction_share"),
            F.when(F.col("g_changes") > 0, glob_share).alias(
                "global_retraction_share"
            ),
            # guarded CASE, not a bare AND: Spark's & does not
            # short-circuit and ANSI mode throws on the 0/0 a
            # zero-change day would produce (DuckDB's x/0 is NULL, and
            # FALSE AND NULL = FALSE — the same final value)
            F.when(
                n_changes > 0,
                (n_changes >= SPIKE_MIN_CHANGES)
                & (day_share > float(SPIKE_FACTOR) * glob_share),
            )
            .otherwise(F.lit(False))
            .alias("is_retraction_spike"),
        )
        .orderBy("change_date")
    )


# --- 4. correction latency profile -------------------------------------------


@query(
    "correction_latency_profile",
    oracle=f"""
    WITH evt AS (
      {_EVT_SQL}
    )
    SELECT chg_op AS op,
           CAST(COUNT(*) AS BIGINT) AS n_changes,
           CAST(SUM(CASE WHEN chg_lag_days = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lag1,
           CAST(SUM(CASE WHEN chg_lag_days = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lag2,
           CAST(SUM(CASE WHEN chg_lag_days = 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lag3,
           CAST(MAX(chg_lag_days) AS BIGINT) AS max_lag_days,
           SUM(chg_lag_days)::DOUBLE / COUNT(*) AS mean_lag_days,
           CAST(SUM(CASE WHEN chg_op = 'D' THEN ABS(cents)
                         ELSE ABS(revised_cents - cents) END) AS BIGINT)
             AS abs_delta_cents_total,
           SUM(CASE WHEN chg_op = 'D' THEN ABS(cents)
                    ELSE ABS(revised_cents - cents) END)::DOUBLE / COUNT(*)
             AS mean_abs_delta_cents
    FROM evt
    WHERE chg_op <> ''
    GROUP BY chg_op
    ORDER BY chg_op
    """,
)
def correction_latency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How long after first delivery do corrections and retractions
    arrive, and how big are they — the operating table that sizes a
    RECONCILIATION WINDOW before anyone deploys one (the exact analog
    of ``late_event_audit`` for the change stream): per op, the lag
    histogram over the model's 1..3-day span, the worst lag, and the
    cents magnitude of the change (|revised - original| for U, the
    retracted amount for D).

    Scale shape: one filter + one map-side-combinable groupBy to <= 2
    rows; the magnitudes are exact int64 sums with single final double
    divisions."""
    evt = with_versions(load(spark, sf_dir, "events")).filter(
        F.col("chg_op") != ""
    )
    mag = F.when(
        F.col("chg_op") == "D", F.abs(F.col("cents"))
    ).otherwise(F.abs(F.col("revised_cents") - F.col("cents")))
    return (
        evt.groupBy(F.col("chg_op").alias("op"))
        .agg(
            F.count("*").cast("bigint").alias("n_changes"),
            F.sum(F.when(F.col("chg_lag_days") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_lag1"),
            F.sum(F.when(F.col("chg_lag_days") == 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_lag2"),
            F.sum(F.when(F.col("chg_lag_days") == 3, 1).otherwise(0))
            .cast("bigint")
            .alias("n_lag3"),
            F.max("chg_lag_days").cast("bigint").alias("max_lag_days"),
            (F.sum("chg_lag_days").cast("double") / F.count("*")).alias(
                "mean_lag_days"
            ),
            F.sum(mag).cast("bigint").alias("abs_delta_cents_total"),
            (F.sum(mag).cast("double") / F.count("*")).alias(
                "mean_abs_delta_cents"
            ),
        )
        .orderBy("op")
    )


# --- 5. reconciliation-window audit (the correction watermark) ---------------


@query(
    "reconciliation_window_audit",
    oracle=f"""
    WITH evt AS (
      {_EVT_SQL}
    ), chg AS (
      SELECT event_date, event_type, chg_lag_days,
             CASE WHEN chg_op = 'D' THEN ABS(cents)
                  ELSE ABS(revised_cents - cents) END AS abs_cents
      FROM evt WHERE chg_op <> ''
    ), perlag AS (
      SELECT chg_lag_days, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(abs_cents) AS BIGINT) AS abs_cents
      FROM chg GROUP BY chg_lag_days
    ), keymax AS (
      SELECT event_date, event_type, MAX(chg_lag_days) AS max_lag
      FROM chg GROUP BY event_date, event_type
    ), tot AS (
      SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_changes_total
      FROM perlag
    ), ws AS (
      SELECT CAST(r.w AS INTEGER) AS window_days FROM range(1, {LAG_SPAN} + 1) r(w)
    ), missed AS (
      SELECT ws.window_days,
             CAST(COALESCE(SUM(CASE WHEN p.chg_lag_days > ws.window_days
                                    THEN p.n END), 0) AS BIGINT) AS n_missed,
             CAST(COALESCE(SUM(CASE WHEN p.chg_lag_days > ws.window_days
                                    THEN p.abs_cents END), 0) AS BIGINT)
               AS missed_abs_cents
      FROM ws LEFT JOIN perlag p ON TRUE
      GROUP BY ws.window_days
    ), stale AS (
      SELECT ws.window_days,
             CAST(COALESCE(SUM(CASE WHEN k.max_lag > ws.window_days
                                    THEN 1 END), 0) AS BIGINT)
               AS n_keys_stale
      FROM ws LEFT JOIN keymax k ON TRUE
      GROUP BY ws.window_days
    )
    SELECT m.window_days, t.n_changes_total, m.n_missed,
           CASE WHEN t.n_changes_total > 0
                THEN m.n_missed::DOUBLE / t.n_changes_total END
             AS frac_missed,
           m.missed_abs_cents, s.n_keys_stale
    FROM missed m JOIN stale s USING (window_days) CROSS JOIN tot t
    ORDER BY m.window_days
    """,
)
def reconciliation_window_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The loss table for every candidate RECONCILIATION WINDOW — the
    correction-stream analog of the watermark-sizing audit: a pipeline
    that stops accepting changes W days after a record's delivery
    leaves every later change unapplied. For each W in 1..{LAG_SPAN}:
    how many changes arrive after W (missed), their cents magnitude,
    and how many KEYS would be left permanently stale. W={LAG_SPAN} is
    lossless by construction (the model's max lag) — pinned in tests.

    The deployed window is W={RECON_WINDOW_DAYS} (``RECON_WINDOW_DAYS``
    — what ``stale_state_audit`` measures key-by-key and
    ``cdc_release_gate`` gates on).

    Scale shape: the sweep derives ALL windows from ONE pass (the
    candidate sets nest — the ``session_gap_sweep`` convention): one
    fact-scale filter+groupBy to <= {LAG_SPAN} per-lag rows plus one to
    per-key max-lag rows (calendar x value-domain bounded); the window
    spine is a constant {LAG_SPAN}-row range broadcast over those."""
    chg = with_versions(load(spark, sf_dir, "events")).filter(
        F.col("chg_op") != ""
    )
    mag = F.when(
        F.col("chg_op") == "D", F.abs(F.col("cents"))
    ).otherwise(F.abs(F.col("revised_cents") - F.col("cents")))
    perlag = chg.groupBy("chg_lag_days").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(mag).cast("bigint").alias("abs_cents"),
    )
    keymax = chg.groupBy("event_date", "event_type").agg(
        F.max("chg_lag_days").alias("max_lag")
    )
    tot = perlag.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_changes_total")
    )
    ws = spark.range(1, LAG_SPAN + 1).select(
        F.col("id").cast("int").alias("window_days")
    )
    missed = (
        ws.join(F.broadcast(perlag), F.lit(True), "left")
        .groupBy("window_days")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("chg_lag_days") > F.col("window_days"),
                        F.col("n"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_missed"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("chg_lag_days") > F.col("window_days"),
                        F.col("abs_cents"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("missed_abs_cents"),
        )
    )
    stale = (
        ws.join(F.broadcast(keymax), F.lit(True), "left")
        .groupBy("window_days")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("max_lag") > F.col("window_days"), 1)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_keys_stale")
        )
    )
    return (
        missed.join(stale, "window_days")
        .crossJoin(F.broadcast(tot))
        .select(
            "window_days",
            "n_changes_total",
            "n_missed",
            F.when(
                F.col("n_changes_total") > 0,
                F.col("n_missed").cast("double") / F.col("n_changes_total"),
            ).alias("frac_missed"),
            "missed_abs_cents",
            "n_keys_stale",
        )
        .orderBy("window_days")
    )


# --- 6. VERSION AS OF over the corrected rollup -------------------------------


@query(
    "corrected_rollup_as_of",
    oracle=f"""
    WITH evt AS (
      {_EVT_SQL}
    ), cdc AS (
      {_CDC_SQL}
    ), bounds AS (
      SELECT MIN(change_date) AS lo, MAX(change_date) AS hi FROM cdc
    ), cut AS (
      SELECT lo + CAST(date_diff('day', lo, hi) // 2 AS INTEGER)
               AS as_of_batch
      FROM bounds
    )
    SELECT c.event_date, c.event_type, t.as_of_batch,
           CAST(SUM(CASE WHEN c.op = 'I' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_events_gross,
           CAST(SUM(CASE WHEN c.op = 'U' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_corrected,
           CAST(SUM(CASE WHEN c.op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_retracted,
           CAST(SUM(c.d_events) AS BIGINT) AS n_events,
           CAST(SUM(c.d_cents) AS BIGINT) AS value_cents
    FROM cdc c CROSS JOIN cut t
    WHERE c.change_date <= t.as_of_batch
    GROUP BY c.event_date, c.event_type, t.as_of_batch
    ORDER BY c.event_date, c.event_type
    """,
)
def corrected_rollup_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL over the RETRACTION-AWARE rollup: the standing table
    AS OF the mid-replay change batch (cutoff = midpoint of the change
    calendar, a pure function of the data — the ``rollup_as_of_batch``
    convention). Because the CDC stream is signed deltas, ANY prefix of
    it folds to a consistent snapshot — including keys mid-life: a key
    whose correction lands after the cutoff shows its ORIGINAL value
    (the uncorrected state every consumer actually read at that
    trigger), and a key whose retraction is still in flight shows as
    live. The reconciliation test pins this against replaying
    ``cdc_delta_log`` rows up to the cutoff.

    Scale shape: the same single map-side collapse as the rollup
    behind one broadcast cutoff scalar and a pushable-shaped filter —
    at a real lakehouse, a partition-pruned read of the change log."""
    cdc = with_changes(load(spark, sf_dir, "events"))
    bounds = cdc.agg(
        F.min("change_date").alias("lo"), F.max("change_date").alias("hi")
    )
    cut = bounds.select(
        F.date_add(
            F.col("lo"),
            (F.datediff(F.col("hi"), F.col("lo")) / 2).cast("int"),
        ).alias("as_of_batch")
    )
    return (
        cdc.crossJoin(F.broadcast(cut))
        .filter(F.col("change_date") <= F.col("as_of_batch"))
        .groupBy("event_date", "event_type", "as_of_batch")
        .agg(
            F.sum(F.when(F.col("op") == "I", 1).otherwise(0))
            .cast("bigint")
            .alias("n_events_gross"),
            F.sum(F.when(F.col("op") == "U", 1).otherwise(0))
            .cast("bigint")
            .alias("n_corrected"),
            F.sum(F.when(F.col("op") == "D", 1).otherwise(0))
            .cast("bigint")
            .alias("n_retracted"),
            F.sum("d_events").cast("bigint").alias("n_events"),
            F.sum("d_cents").cast("bigint").alias("value_cents"),
        )
        .select(
            "event_date",
            "event_type",
            "as_of_batch",
            "n_events_gross",
            "n_corrected",
            "n_retracted",
            "n_events",
            "value_cents",
        )
        .orderBy("event_date", "event_type")
    )


# --- 7. event version census --------------------------------------------------


@query(
    "event_version_census",
    oracle=f"""
    WITH evt AS (
      {_EVT_SQL}
    )
    SELECT CASE chg_op WHEN 'U' THEN 'corrected'
                       WHEN 'D' THEN 'retracted'
                       ELSE 'live' END AS status,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN chg_op = '' THEN 1 ELSE 2 END) AS BIGINT)
             AS n_records,
           CAST(SUM(cents) AS BIGINT) AS original_cents,
           CAST(SUM(CASE WHEN chg_op = 'D' THEN 0
                         WHEN chg_op = 'U' THEN revised_cents
                         ELSE cents END) AS BIGINT) AS final_cents
    FROM evt
    GROUP BY 1
    ORDER BY status
    """,
)
def event_version_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VERSION-CHAIN census a CDC consumer sizes its state by: per
    terminal status (live / corrected / retracted), how many events,
    how many CDC records their chains hold (1 for live, 2 for changed —
    the feed amplification factor), and the cents they contribute
    before and after the change stream (retracted events end at 0).

    Scale shape: one map-side-combinable groupBy over the event scan
    collapsing to <= 3 rows."""
    evt = with_versions(load(spark, sf_dir, "events"))
    status = (
        F.when(F.col("chg_op") == "U", F.lit("corrected"))
        .when(F.col("chg_op") == "D", F.lit("retracted"))
        .otherwise(F.lit("live"))
    )
    final_cents = (
        F.when(F.col("chg_op") == "D", F.lit(0))
        .when(F.col("chg_op") == "U", F.col("revised_cents"))
        .otherwise(F.col("cents"))
    )
    return (
        evt.groupBy(status.alias("status"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.when(F.col("chg_op") == "", 1).otherwise(2))
            .cast("bigint")
            .alias("n_records"),
            F.sum("cents").cast("bigint").alias("original_cents"),
            F.sum(final_cents).cast("bigint").alias("final_cents"),
        )
        .orderBy("status")
    )


# --- 8. stale-state audit at the deployed window ------------------------------


@query(
    "stale_state_audit",
    oracle=f"""
    WITH evt AS (
      {_EVT_SQL}
    ), perkey AS (
      SELECT event_date, event_type,
             CAST(COUNT(*) - SUM(CASE WHEN chg_op = 'D' THEN 1 ELSE 0 END)
                  AS BIGINT) AS true_n,
             CAST(SUM(CASE WHEN chg_op = 'D' THEN 0
                           WHEN chg_op = 'U' THEN revised_cents
                           ELSE cents END) AS BIGINT) AS true_cents,
             CAST(COUNT(*) - SUM(CASE WHEN chg_op = 'D'
                                       AND chg_lag_days <= {RECON_WINDOW_DAYS}
                                      THEN 1 ELSE 0 END) AS BIGINT)
               AS win_n,
             CAST(SUM(CASE WHEN chg_op = 'D'
                            AND chg_lag_days <= {RECON_WINDOW_DAYS} THEN 0
                           WHEN chg_op = 'U'
                            AND chg_lag_days <= {RECON_WINDOW_DAYS}
                           THEN revised_cents
                           ELSE cents END) AS BIGINT) AS win_cents
      FROM evt
      GROUP BY event_date, event_type
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN true_n <> win_n OR true_cents <> win_cents
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_keys_stale,
           CAST(SUM(ABS(true_cents - win_cents)) AS BIGINT)
             AS stale_abs_cents,
           CAST(SUM(ABS(true_n - win_n)) AS BIGINT) AS stale_events_abs
    FROM perkey
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def stale_state_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the DEPLOYED {RECON_WINDOW_DAYS}-day reconciliation window
    actually costs, key by key — the ``watermarked_rollup_compare``
    analog for the change stream: the TRUE corrected rollup vs the
    state a pipeline holds when changes arriving more than
    {RECON_WINDOW_DAYS} days after their record's delivery are dropped.
    Per event_type: how many keys diverge, the absolute cents gap, and
    the live-count gap (retractions missed = ghost events still
    counted).

    Both states come from ONE pass: the window predicate is a pure
    function of each event's md5 lag, so the windowed state is just a
    second set of conditional aggregates beside the true ones — no
    second scan, no join of two rollups.

    Scale shape: one map-side-combinable groupBy to calendar x
    value-domain keys, then a trivial rollup of those bounded rows to
    <= |event_type| output rows."""
    evt = with_versions(load(spark, sf_dir, "events"))
    applied = F.col("chg_lag_days") <= RECON_WINDOW_DAYS
    true_cents = (
        F.when(F.col("chg_op") == "D", F.lit(0))
        .when(F.col("chg_op") == "U", F.col("revised_cents"))
        .otherwise(F.col("cents"))
    )
    win_cents = (
        F.when((F.col("chg_op") == "D") & applied, F.lit(0))
        .when((F.col("chg_op") == "U") & applied, F.col("revised_cents"))
        .otherwise(F.col("cents"))
    )
    perkey = evt.groupBy("event_date", "event_type").agg(
        (
            F.count("*")
            - F.sum(F.when(F.col("chg_op") == "D", 1).otherwise(0))
        )
        .cast("bigint")
        .alias("true_n"),
        F.sum(true_cents).cast("bigint").alias("true_cents"),
        (
            F.count("*")
            - F.sum(
                F.when((F.col("chg_op") == "D") & applied, 1).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("win_n"),
        F.sum(win_cents).cast("bigint").alias("win_cents"),
    )
    stale = (F.col("true_n") != F.col("win_n")) | (
        F.col("true_cents") != F.col("win_cents")
    )
    return (
        perkey.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_keys"),
            F.sum(F.when(stale, 1).otherwise(0))
            .cast("bigint")
            .alias("n_keys_stale"),
            F.sum(F.abs(F.col("true_cents") - F.col("win_cents")))
            .cast("bigint")
            .alias("stale_abs_cents"),
            F.sum(F.abs(F.col("true_n") - F.col("win_n")))
            .cast("bigint")
            .alias("stale_events_abs"),
        )
        .orderBy("event_type")
    )


# --- 9. net effect by type ----------------------------------------------------


@query(
    "cdc_net_effect_by_type",
    oracle=f"""
    WITH evt AS (
      {_EVT_SQL}
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events_gross,
           CAST(SUM(CASE WHEN chg_op = 'U' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_corrected,
           CAST(SUM(CASE WHEN chg_op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_retracted,
           CAST(SUM(cents) AS BIGINT) AS gross_cents,
           CAST(SUM(CASE WHEN chg_op = 'U' THEN revised_cents - cents
                         ELSE 0 END) AS BIGINT) AS correction_delta_cents,
           CAST(SUM(CASE WHEN chg_op = 'D' THEN cents ELSE 0 END) AS BIGINT)
             AS retracted_cents,
           CAST(SUM(CASE WHEN chg_op = 'D' THEN 0
                         WHEN chg_op = 'U' THEN revised_cents
                         ELSE cents END) AS BIGINT) AS net_cents,
           SUM(CASE WHEN chg_op = 'U' THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)
             AS correction_rate,
           SUM(CASE WHEN chg_op = 'D' THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)
             AS retraction_rate
    FROM evt
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def cdc_net_effect_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change stream's NET EFFECT decomposition per event_type —
    the revenue-impact readout a finance consumer reads before trusting
    a corrected table: gross inserted cents, the signed correction
    drift, the retracted mass, and the net (which must equal
    gross + corrections - retractions — an identity the tests pin),
    plus each type's correction/retraction rates.

    Scale shape: one map-side-combinable groupBy over the event scan to
    |event_type| rows."""
    evt = with_versions(load(spark, sf_dir, "events"))
    net_cents = (
        F.when(F.col("chg_op") == "D", F.lit(0))
        .when(F.col("chg_op") == "U", F.col("revised_cents"))
        .otherwise(F.col("cents"))
    )
    return (
        evt.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events_gross"),
            F.sum(F.when(F.col("chg_op") == "U", 1).otherwise(0))
            .cast("bigint")
            .alias("n_corrected"),
            F.sum(F.when(F.col("chg_op") == "D", 1).otherwise(0))
            .cast("bigint")
            .alias("n_retracted"),
            F.sum("cents").cast("bigint").alias("gross_cents"),
            F.sum(
                F.when(
                    F.col("chg_op") == "U",
                    F.col("revised_cents") - F.col("cents"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("correction_delta_cents"),
            F.sum(F.when(F.col("chg_op") == "D", F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("retracted_cents"),
            F.sum(net_cents).cast("bigint").alias("net_cents"),
            (
                F.sum(F.when(F.col("chg_op") == "U", 1).otherwise(0)).cast(
                    "double"
                )
                / F.count("*")
            ).alias("correction_rate"),
            (
                F.sum(F.when(F.col("chg_op") == "D", 1).otherwise(0)).cast(
                    "double"
                )
                / F.count("*")
            ).alias("retraction_rate"),
        )
        .orderBy("event_type")
    )


# --- 10. correction bias sign test ---------------------------------------------

SIGN_Z_CRIT_05 = "1.959963985"  # frozen two-sided 5% normal quantile —
# shared literal so the rejection is the same IEEE comparison in both
# engines (the residual_runs_test / median_ci_orderstat convention)


@query(
    "correction_bias_sign_test",
    oracle=f"""
    WITH evt AS (
      {_EVT_SQL}
    ), u AS (
      SELECT event_type, revised_cents - cents AS delta
      FROM evt WHERE chg_op = 'U'
    ), agg AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_corrections,
             CAST(SUM(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_up,
             CAST(SUM(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_down,
             CAST(SUM(CASE WHEN delta = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero,
             CAST(SUM(delta) AS BIGINT) AS net_delta_cents
      FROM u GROUP BY event_type
    )
    SELECT event_type, n_corrections, n_up, n_down, n_zero,
           net_delta_cents,
           CASE WHEN n_up + n_down > 0
                THEN (n_up - n_down)::DOUBLE / sqrt((n_up + n_down)::DOUBLE)
           END AS z_sign,
           CASE WHEN n_up + n_down > 0
                THEN ABS((n_up - n_down)::DOUBLE
                         / sqrt((n_up + n_down)::DOUBLE))
                     > {SIGN_Z_CRIT_05}
           END AS biased_05
    FROM agg
    ORDER BY event_type
    """,
)
def correction_bias_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the correction stream BIASED, per event_type — the sign test
    that tells an operator whether corrections merely reshuffle values
    (up/down symmetric, what the md5 model and any honest measurement
    error produce) or systematically move them (an upstream pricing bug
    wearing a corrections costume). The gate's ``correction_impact``
    leg bounds the MAGNITUDE of the net drift; this is the
    SIGNIFICANCE read beside it: under H0 (no bias) the sign of each
    nonzero delta is a fair coin, so z = (n_up - n_down) / sqrt(n_up +
    n_down) with zero-deltas excluded (the standard sign-test tie
    rule), rejected two-sided at the frozen {SIGN_Z_CRIT_05} quantile.

    Types with no corrections emit no row (there is no stream to
    test); a type whose nonzero deltas all cancel in COUNT (n_up =
    n_down) reads z = 0 however large the cents drift — which is
    exactly why both this and the magnitude leg exist.

    Determinism: counts are exact; z is one subtraction, one sqrt and
    one division of exact counts — the same IEEE chain both engines
    evaluate; the rejection threshold is a shared frozen literal.

    Scale shape: one filter + one map-side-combinable groupBy to
    <= |event_type| rows; the test statistic is scan-free arithmetic
    over those rows."""
    u = (
        with_versions(load(spark, sf_dir, "events"))
        .filter(F.col("chg_op") == "U")
        .select(
            "event_type",
            (F.col("revised_cents") - F.col("cents")).alias("delta"),
        )
    )
    agg = u.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_corrections"),
        F.sum(F.when(F.col("delta") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_up"),
        F.sum(F.when(F.col("delta") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_down"),
        F.sum(F.when(F.col("delta") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero"),
        F.sum("delta").cast("bigint").alias("net_delta_cents"),
    )
    nz = F.col("n_up") + F.col("n_down")
    z = (F.col("n_up") - F.col("n_down")).cast("double") / F.sqrt(
        nz.cast("double")
    )
    return agg.select(
        "event_type",
        "n_corrections",
        "n_up",
        "n_down",
        "n_zero",
        "net_delta_cents",
        F.when(nz > 0, z).alias("z_sign"),
        F.when(nz > 0, F.abs(z) > float(SIGN_Z_CRIT_05)).alias("biased_05"),
    ).orderBy("event_type")


# --- 10. the CDC release gate (sixth-family capstone) -------------------------

# Gate thresholds — shared literals so the comparisons are the same IEEE
# chain in both engines. Fixture values pass all four (sf0.01:
# frac_missed at the deployed 2-day window ~0.33, retraction rate ~0.04,
# correction impact ~0.001, zero spike days); the deny and no-decision
# branches are exercised on crafted tables in tests/test_cdc_ops.py.
CDC_GATE_MAX_MISSED = "0.45"  # the deployed window may leave at most 45%
# of changes unapplied (the model's uniform 1..3-day lag puts ~1/3 past
# a 2-day window — structural, not a defect; above .45 the window is
# mis-sized for the stream)
CDC_GATE_MAX_RETRACTION = "0.08"  # stream-wide retraction share cap
CDC_GATE_MAX_CORR_IMPACT = "0.05"  # |net correction drift| / gross cents


def _cdc_gate_oracle() -> str:
    # Compose the legs' REGISTERED oracles verbatim (the release-gate
    # convention) — all three legs are registered ABOVE in this module.
    from bigdata_2025_1_spark.registry import ORACLES as _O

    return f"""
    WITH net AS (
      SELECT CAST(COALESCE(SUM(n_events_gross), 0) AS BIGINT)
               AS n_events_gross,
             CAST(COALESCE(SUM(n_corrected), 0) AS BIGINT) AS n_corrected,
             CAST(COALESCE(SUM(n_retracted), 0) AS BIGINT) AS n_retracted,
             CAST(COALESCE(SUM(gross_cents), 0) AS BIGINT) AS gross_cents,
             CAST(COALESCE(SUM(correction_delta_cents), 0) AS BIGINT)
               AS corr_delta_cents
      FROM ({_O["cdc_net_effect_by_type"]})
    ), win AS (
      SELECT n_changes_total, frac_missed AS frac_missed_at_deployed
      FROM ({_O["reconciliation_window_audit"]})
      WHERE window_days = {RECON_WINDOW_DAYS}
    ), feed AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN is_retraction_spike THEN 1
                                    ELSE 0 END), 0) AS BIGINT)
               AS n_spike_days,
             CAST(COUNT(*) AS BIGINT) AS n_feed_days
      FROM ({_O["cdc_feed_daily_profile"]})
    ), vals AS (
      SELECT n.n_events_gross, n.n_corrected, n.n_retracted,
             n.gross_cents, n.corr_delta_cents,
             w.n_changes_total, w.frac_missed_at_deployed,
             f.n_spike_days, f.n_feed_days,
             CASE WHEN n.n_events_gross > 0
                  THEN n.n_retracted::DOUBLE / n.n_events_gross END
               AS retraction_rate_total,
             CASE WHEN n.gross_cents > 0
                  THEN ABS(n.corr_delta_cents)::DOUBLE / n.gross_cents END
               AS correction_impact
      FROM net n CROSS JOIN win w CROSS JOIN feed f
    ), oks AS (
      SELECT *,
             CASE WHEN n_events_gross = 0 THEN NULL
                  WHEN frac_missed_at_deployed IS NULL THEN TRUE
                  ELSE frac_missed_at_deployed <= {CDC_GATE_MAX_MISSED}
             END AS ok_window,
             CASE WHEN n_events_gross = 0 THEN NULL
                  ELSE retraction_rate_total <= {CDC_GATE_MAX_RETRACTION}
             END AS ok_retractions,
             CASE WHEN n_events_gross = 0 THEN NULL
                  WHEN correction_impact IS NULL AND n_corrected = 0
                       THEN TRUE
                  WHEN correction_impact IS NULL THEN NULL
                  ELSE correction_impact <= {CDC_GATE_MAX_CORR_IMPACT}
             END AS ok_corrections,
             CASE WHEN n_events_gross = 0 THEN NULL
                  ELSE n_spike_days = 0 END AS ok_stability
      FROM vals
    )
    SELECT n_events_gross, n_changes_total, frac_missed_at_deployed,
           retraction_rate_total, correction_impact, n_spike_days,
           ok_window, ok_retractions, ok_corrections, ok_stability,
           (ok_window AND ok_retractions AND ok_corrections
            AND ok_stability) AS cdc_ok
    FROM oks
    """


@query("cdc_release_gate", oracle=_cdc_gate_oracle())
def cdc_release_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corrected table's RELEASE DECISION, in one row — the CDC
    family's capstone, extending the release-gate convention to its
    SIXTH operational family (corpus, dedup, layout, index, ingest, now
    CDC). Composes, by CALLING the registered queries so the gate can
    never drift from what the correctness gate certifies leg by leg:

    - ``reconciliation_window_audit`` -> the DEPLOYED
      {RECON_WINDOW_DAYS}-day window's miss share (gate: <=
      {CDC_GATE_MAX_MISSED} — above that the window is mis-sized and
      the table drifts from truth);
    - ``cdc_net_effect_by_type``      -> stream-wide retraction rate
      (gate: <= {CDC_GATE_MAX_RETRACTION}) and correction impact
      |net drift| / gross cents (gate: <= {CDC_GATE_MAX_CORR_IMPACT} —
      corrections should reshuffle values, not move the total);
    - ``cdc_feed_daily_profile``      -> retraction-spike days (gate:
      0 — a cancellation storm blocks release until adjudicated).

    ``cdc_ok`` is the conjunction. Every sub-scalar is reconciled
    against its standalone query by tests/test_cdc_ops.py.

    Null semantics (identical three-valued logic in both engines): an
    EMPTY events table yields NULL verdicts and a NULL cdc_ok — a
    no-decision, not a pass. A live table with ZERO changes passes the
    window leg vacuously (nothing to reconcile). The correction-impact
    leg follows the ann_release_gate hardening: impact undefined with
    NO corrections is a vacuous pass, but undefined DESPITE live
    corrections (a zero/negative gross — a broken cents pipeline) is a
    NULL no-decision, never a silent pass.

    Scale shape: the legs are already bounded aggregates (each one
    map-side-combinable collapse); the gate's cost is the sum of its
    legs, which share the event scan shape."""
    # The legs share only the UNpersisted event-scan shape (the r14
    # negative memo kept the shared-stream cache out), so the leg
    # threads contend on nothing.
    impact = F.col("correction_impact")
    return release_gate(
        [
            lambda: cdc_net_effect_by_type(spark, sf_dir).agg(
                F.coalesce(F.sum("n_events_gross"), F.lit(0))
                .cast("bigint")
                .alias("n_events_gross"),
                F.coalesce(F.sum("n_corrected"), F.lit(0))
                .cast("bigint")
                .alias("n_corrected"),
                F.coalesce(F.sum("n_retracted"), F.lit(0))
                .cast("bigint")
                .alias("n_retracted"),
                F.coalesce(F.sum("gross_cents"), F.lit(0))
                .cast("bigint")
                .alias("gross_cents"),
                F.coalesce(F.sum("correction_delta_cents"), F.lit(0))
                .cast("bigint")
                .alias("corr_delta_cents"),
            ),
            lambda: reconciliation_window_audit(spark, sf_dir)
            .filter(F.col("window_days") == RECON_WINDOW_DAYS)
            .select(
                "n_changes_total",
                F.col("frac_missed").alias("frac_missed_at_deployed"),
            ),
            lambda: cdc_feed_daily_profile(spark, sf_dir).agg(
                F.coalesce(
                    F.sum(F.when(F.col("is_retraction_spike"), 1).otherwise(0)),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("n_spike_days"),
                F.count("*").cast("bigint").alias("n_feed_days"),
            ),
        ],
        derived={
            "retraction_rate_total": ratio("n_retracted", "n_events_gross"),
            "correction_impact": ratio(
                F.abs(F.col("corr_delta_cents")), "gross_cents"
            ),
        },
        out=[
            "n_events_gross",
            "n_changes_total",
            "frac_missed_at_deployed",
            "retraction_rate_total",
            "correction_impact",
            "n_spike_days",
        ],
        verdicts={
            "ok_window": F.when(
                F.col("frac_missed_at_deployed").isNull(), F.lit(True)
            ).otherwise(
                F.col("frac_missed_at_deployed") <= float(CDC_GATE_MAX_MISSED)
            ),
            "ok_retractions": F.col("retraction_rate_total")
            <= float(CDC_GATE_MAX_RETRACTION),
            # impact undefined with no corrections: vacuous pass; despite
            # live corrections it stays NULL (impact <= x is NULL).
            "ok_corrections": F.when(
                impact.isNull() & (F.col("n_corrected") == 0), F.lit(True)
            ).otherwise(impact <= float(CDC_GATE_MAX_CORR_IMPACT)),
            "ok_stability": F.col("n_spike_days") == 0,
        },
        ok="cdc_ok",
        empty=F.col("n_events_gross") == 0,
    )


# --- online form: the retraction-aware maintenance loop -----------------------


def cdc_state_zero() -> dict:
    """Fresh standing state: (event_date, event_type) -> [gross,
    corrected, retracted, n_events, value_cents, last_change_batch].
    A factory — the state is mutable."""
    return {}


def cdc_step(batch_ev: DataFrame) -> DataFrame:
    """ONE trigger of the retraction-aware rollup maintenance: collapse
    the batch's CDC RECORDS (each event ships its I record and, if
    changed, its signed U/D delta) to per-key partials — the same
    semigroup columns the standing state holds. A foreachBatch loop
    merges these with :func:`cdc_merge`; the accumulated state equals
    the batch replay under ANY event chunking (pinned in
    tests/test_cdc_ops.py)."""
    cdc = with_changes(batch_ev)
    return cdc.groupBy("event_date", "event_type").agg(
        F.sum(F.when(F.col("op") == "I", 1).otherwise(0))
        .cast("bigint")
        .alias("n_events_gross"),
        F.sum(F.when(F.col("op") == "U", 1).otherwise(0))
        .cast("bigint")
        .alias("n_corrected"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0))
        .cast("bigint")
        .alias("n_retracted"),
        F.sum("d_events").cast("bigint").alias("n_events"),
        F.sum("d_cents").cast("bigint").alias("value_cents"),
        F.max("change_date").alias("last_change_batch"),
    )


def cdc_merge(state: dict, step_rows) -> dict:
    """Merge ONE trigger's per-key partials (rows of :func:`cdc_step`)
    into the standing state — sums plus a max, the delta encoding's
    whole point: corrections and retractions need no key lookup of the
    OLD value because the delta already carries it. MUTATES ``state``."""
    for r in step_rows:
        key = (r.event_date, r.event_type)
        st = state.get(key)
        if st is None:
            state[key] = [
                r.n_events_gross,
                r.n_corrected,
                r.n_retracted,
                r.n_events,
                r.value_cents,
                r.last_change_batch,
            ]
        else:
            st[0] += r.n_events_gross
            st[1] += r.n_corrected
            st[2] += r.n_retracted
            st[3] += r.n_events
            st[4] += r.value_cents
            if r.last_change_batch > st[5]:
                st[5] = r.last_change_batch
    return state


def cdc_readout(state: dict) -> "list[tuple]":
    """Derive ``cdc_corrected_rollup``'s rows from the online state,
    sorted by key — byte-identical to the batch query (including the
    derived ``key_deleted`` flag)."""
    return [
        (ed, et, st[0], st[1], st[2], st[3], st[4], st[5], st[3] == 0)
        for (ed, et), st in sorted(state.items())
    ]


def cdc_update(state: dict, events) -> dict:
    """Pure-Python twin of cdc_step+cdc_merge for one chunk of RAW
    event rows ``(event_id, ts, event_type, value)`` — chunking-
    invariant by property test. MUTATES ``state``."""
    import datetime as _dt

    for event_id, ts, event_type, value in events:
        event_date = ts.date()
        arrival = event_date + _dt.timedelta(days=py_delay_days(event_id))
        cents = py_cents(value)
        op = py_chg_op(event_id)
        key = (event_date, event_type)
        st = state.setdefault(key, [0, 0, 0, 0, 0, _dt.date.min])
        st[0] += 1
        st[3] += 1
        st[4] += cents
        if arrival > st[5]:
            st[5] = arrival
        if op:
            change = arrival + _dt.timedelta(days=py_chg_lag(event_id))
            if op == "U":
                st[1] += 1
                st[4] += py_rev_delta(event_id)
            else:
                st[2] += 1
                st[3] -= 1
                st[4] -= cents
            if change > st[5]:
                st[5] = change
    return state
