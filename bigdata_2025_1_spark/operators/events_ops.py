"""Event-stream operators in their batch-equivalent form (SURVEY §2.A2/A3,
§2.F6). The streaming pipelines in ``streaming/`` reuse exactly these
transformations inside ``readStream``/``foreachBatch`` — by construction
(the reference's foreachBatch body is batch code too,
spark/consumer.py:33-100), so the DuckDB oracle checks the shared logic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdata_2025_1_spark.functions.asof import asof_attach_last
from bigdata_2025_1_spark.functions.exact import exact_sum, int_div_exact, sql_exact_sum
from bigdata_2025_1_spark.functions.hashing import md5_int, sql_md5_int
from bigdata_2025_1_spark.io import load
from bigdata_2025_1_spark.functions.ranks import rank_after_limit, with_global_rank
from bigdata_2025_1_spark.registry import query
from bigdata_2025_1_spark.sources.kafka_shape import to_kafka_message

PROPS_SCHEMA = T.StructType([T.StructField("k", T.IntegerType(), True)])


@query(
    "events_json_decode",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MIN(CAST(json_extract(props, '$.k') AS INT)) AS min_k,
           MAX(CAST(json_extract(props, '$.k') AS INT)) AS max_k
    FROM events
    WHERE props IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_json_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 parity on the events fixture: from_json with a declared schema
    (PERMISSIVE — malformed → null), then aggregate the decoded field."""
    ev = load(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    k = F.from_json(F.col("props"), PROPS_SCHEMA)["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("k").cast("bigint")).alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@query(
    "kafka_roundtrip_counts",
    oracle="""
    SELECT event_type AS domain, COUNT(*) AS n_messages,
           COUNT(DISTINCT event_type || '_' || CAST(event_id AS VARCHAR)) AS n_keys
    FROM events
    GROUP BY event_type
    ORDER BY domain
    """,
)
def kafka_roundtrip_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3→A2 roundtrip without a broker: encode events into Kafka message
    shape (key = ``{event_type}_{event_id}``, value = JSON payload —
    push_data_to_kafka.py:25-32), decode the value back with from_json,
    verify counts/keys survive. The oracle computes the same from the
    source table — equality proves the roundtrip is lossless."""
    ev = load(spark, sf_dir, "events")
    msgs = to_kafka_message(
        ev.withColumn("event_id_str", F.col("event_id").cast("string")),
        ("event_type", "event_id_str"),
        ["event_id", "event_type", "user_id"],
    )
    decoded = msgs.select(
        "key",
        F.from_json(
            F.col("value"),
            "event_id BIGINT, event_type STRING, user_id BIGINT",
        ).alias("data"),
    ).select("key", "data.*")
    return (
        decoded.filter(F.col("event_type").isNotNull())
        .groupBy(F.col("event_type").alias("domain"))
        .agg(
            F.count("*").alias("n_messages"),
            F.countDistinct("key").alias("n_keys"),
        )
        .orderBy("domain")
    )


@query(
    "events_hourly_windows",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_exact_sum('value', 2)} AS sum_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, event_type
    ORDER BY window_start, event_type
    """,
)
def events_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows (F6) in batch form: F.window(ts, 1h) —
    the same expression Structured Streaming uses with a watermark; the
    oracle mirrors it as date_trunc."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col("value"), 2).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value", "n_users")
        .orderBy("window_start", "event_type")
    )


@query(
    "events_sliding_windows",
    oracle=f"""
    WITH slides AS (
      SELECT ts, value,
             date_trunc('hour', ts) + INTERVAL (CASE WHEN minute(ts) >= 30 THEN 30 ELSE 0 END) MINUTE AS aligned,
             unnest([0, 30]) AS back_min
    FROM events
    )
    SELECT aligned - INTERVAL (back_min) MINUTE AS window_start,
           COUNT(*) AS n_events,
           {sql_exact_sum('value', 2)} AS sum_value
    FROM slides
    GROUP BY 1
    ORDER BY window_start
    """,
)
def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1h length, 30m slide): every event lands in 2
    windows. Spark's F.window(ts, '1 hour', '30 minutes') expands rows
    exactly like the oracle's unnest([0,30]) construction."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col("value"), 2).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
        .orderBy("window_start")
    )


# The DEPLOYED sessionization inactivity gap (30 minutes) — the single
# definition every sessionizer shares: user_sessionization and the
# session-trigram walk below, plus incremental_ops' session_closure_log
# / session_update / session_gap_sweep (imported there). The colocated
# SQL oracles spell it as INTERVAL 30 MINUTE; the selfcheck catches any
# drift between this constant and those literals.
SESSION_GAP_SECONDS = 1800


@query(
    "user_sessionization",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps
    )
    SELECT user_id,
           CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n_sessions,
           CAST(SUM(session_events) AS BIGINT) AS n_events,
           CAST(MAX(session_events) AS BIGINT) AS max_session_events
    FROM (SELECT user_id, session_id, COUNT(*) AS session_events
          FROM sessions GROUP BY user_id, session_id) s
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def user_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity gap — the batch twin
    of F.session_window): lag → new-session flag → running sum as session
    id → per-user session stats. One shuffle on user_id; all window ops
    reuse that partitioning."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_session = F.when(gap.isNull() | (gap > SESSION_GAP_SECONDS * 1_000_000), 1).otherwise(0)
    sessions = ev.select(
        "user_id",
        "ts",
        F.sum(new_session)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("session_events")
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.countDistinct("session_id").alias("n_sessions"),
            F.sum("session_events").alias("n_events"),
            F.max("session_events").cast("bigint").alias("max_session_events"),
        )
        .orderBy("user_id")
    )


@query(
    "dedup_first_event_per_user_type",
    oracle="""
    SELECT user_id, event_type, event_id AS first_event_id, ts AS first_ts
    FROM (
      SELECT user_id, event_type, event_id, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    )
    WHERE rn = 1
    ORDER BY user_id, event_type
    """,
)
def dedup_first_event_per_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup keeping the earliest row — the deterministic batch twin
    of streaming ``dropDuplicatesWithinWatermark`` (plain dropDuplicates
    keeps an arbitrary row; at scale you want this explicit version)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            "event_type",
            F.col("event_id").alias("first_event_id"),
            F.col("ts").alias("first_ts"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("user_id", "event_type")
    )


@query(
    "asof_join_last_purchase",
    oracle="""
    WITH u AS (
      SELECT user_id, ts, event_id, 1 AS is_fact, CAST(NULL AS DOUBLE) AS sig_value
      FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT user_id, ts, event_id, 0 AS is_fact, value AS sig_value
      FROM events WHERE event_type = 'purchase'
    ), w AS (
      SELECT *,
             LAST_VALUE(CASE WHEN is_fact = 0 THEN {'ts': ts, 'val': sig_value} END
                        IGNORE NULLS) OVER win AS lastp
      FROM u
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, is_fact, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id AS click_id, ts AS click_ts,
           lastp.ts AS last_purchase_ts, lastp.val AS last_purchase_value
    FROM w WHERE is_fact = 1
    ORDER BY user_id, click_ts, click_id
    """,
)
def asof_join_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (an operator Spark has no native form of): each 'click'
    event picks up the latest 'purchase' value at-or-before its timestamp
    for the same user.

    Spark-first formulation: union both sides, ONE shuffle on user_id,
    then last(ignorenulls) over (ts, is_fact, event_id) — the build side
    sorts before facts at equal ts, giving inclusive <= semantics, and
    event_id breaks residual ties deterministically. This is the
    scale-safe shape: a naive per-row subquery or unbounded range join
    explodes, while this is sessionization-priced (sort within user
    partitions). DuckDB's native ASOF JOIN is the same algorithm; the
    oracle mirrors via the identical union+window so tie semantics are
    pinned, not engine-defaulted."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    return (
        asof_attach_last(
            clicks,
            purchases,
            key="user_id",
            ts="ts",
            tiebreak="event_id",
            value="value",
            out_value="last_purchase_value",
            out_ts="last_purchase_ts",
        )
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            "last_purchase_ts",
            "last_purchase_value",
        )
        .orderBy("user_id", "click_ts", "click_id")
    )


@query(
    "event_funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS first_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS first_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.first_view
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS first_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.first_click
      GROUP BY e.user_id
    )
    SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_viewed,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_clicked_after_view,
           CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchased_after_click,
           CASE WHEN (SELECT COUNT(*) FROM v) > 0
                THEN ROUND(CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
                           / (SELECT COUNT(*) FROM v), 6)
           END AS view_to_purchase_rate
    """,
)
def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click after it → purchase after that), a
    staple event-analytics operator the reference never had.

    Spark-first: all three stage timestamps are conditional MINs over the
    SAME user_id window, so Catalyst chains three Window nodes behind ONE
    exchange — no joins, no re-shuffles (the oracle deliberately uses the
    join formulation: two independent derivations agreeing is the check).
    """
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    t = F.col("event_type")
    staged = (
        ev.withColumn("first_view", F.min(F.when(t == "view", F.col("ts"))).over(w))
        .withColumn(
            "first_click",
            F.min(
                F.when((t == "click") & (F.col("ts") > F.col("first_view")), F.col("ts"))
            ).over(w),
        )
        .withColumn(
            "first_purchase",
            F.min(
                F.when(
                    (t == "purchase") & (F.col("ts") > F.col("first_click")), F.col("ts")
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("first_view").alias("fv"),
        F.max("first_click").alias("fc"),
        F.max("first_purchase").alias("fp"),
    )
    return per_user.agg(
        F.count("fv").alias("n_viewed"),
        F.count("fc").alias("n_clicked_after_view"),
        F.count("fp").alias("n_purchased_after_click"),
        # guarded: ANSI mode makes x/0 a job failure, and an empty (or
        # view-less) events table is a legitimate input
        F.when(
            F.count("fv") > 0,
            F.round(F.count("fp").cast("double") / F.count("fv"), 6),
        ).alias("view_to_purchase_rate"),
    )


@query(
    "range_join_incident_windows",
    oracle="""
    WITH eh AS (
      SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n_errors
      FROM events WHERE event_type = 'error' GROUP BY 1
    ), thr AS (
      SELECT ROUND(quantile_cont(n_errors, 0.9), 6) AS p90 FROM eh
    ), inc AS (
      SELECT h, n_errors FROM eh, thr WHERE n_errors > p90
    ), bins AS (
      SELECT h, n_errors, b.bin
      FROM inc CROSS JOIN LATERAL (VALUES (h), (h + INTERVAL 1 HOUR)) b(bin)
    ), clk AS (
      SELECT date_trunc('hour', ts) AS bin, ts FROM events WHERE event_type = 'click'
    )
    SELECT i.h AS window_start,
           CAST(i.n_errors AS BIGINT) AS n_errors,
           CAST(COUNT(c.ts) FILTER (c.ts >= i.h
                                AND c.ts < i.h + INTERVAL 90 MINUTE) AS BIGINT)
             AS n_clicks_90m
    FROM bins i LEFT JOIN clk c ON c.bin = i.bin
    GROUP BY i.h, i.n_errors
    ORDER BY window_start
    """,
)
def range_join_incident_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join via bin pre-keys: count clicks inside each
    90-minute "incident" window (hours whose error count exceeds the p90
    of hourly error counts — a relative threshold, so it survives any
    scale factor).

    The scale trick the brief asks for: a raw interval join is a
    BroadcastNestedLoop/cartesian; bucketing both sides by hour turns it
    into an EQUI-join on the bin (each 90-min window explodes into its 2
    covering bins; each click carries 1 bin) with the true containment
    check demoted to a cheap residual predicate inside the count. Window
    count stays ~10% of hours at every SF, and the p90 threshold is
    rounded to 6dp so cross-engine quantile interpolation (a ±1-ulp op
    ordering difference) cannot flip a boundary hour."""
    ev = load(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    eh = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(hour.alias("h"))
        .agg(F.count("*").alias("n_errors"))
    )
    thr = eh.agg(F.round(F.percentile("n_errors", F.lit(0.9)), 6).alias("p90"))
    inc = (
        eh.crossJoin(F.broadcast(thr))
        .filter(F.col("n_errors") > F.col("p90"))
        .select("h", "n_errors")
    )
    bins = inc.withColumn(
        "bin", F.explode(F.array(F.col("h"), F.col("h") + F.expr("INTERVAL 1 HOUR")))
    )
    clk = ev.filter(F.col("event_type") == "click").select(
        hour.alias("bin"), "ts"
    )
    in_window = (F.col("ts") >= F.col("h")) & (
        F.col("ts") < F.col("h") + F.expr("INTERVAL 90 MINUTES")
    )
    return (
        bins.join(clk, "bin", "left")
        .groupBy("h", "n_errors")
        .agg(F.count(F.when(in_window, F.lit(1))).alias("n_clicks_90m"))
        .select(
            F.col("h").alias("window_start"),
            F.col("n_errors").cast("bigint").alias("n_errors"),
            "n_clicks_90m",
        )
        .orderBy("window_start")
    )


@query(
    "variant_json_shred",
    oracle="""
    SELECT event_id,
           CASE WHEN json_valid(props)
                THEN TRY_CAST(TRUNC(TRY_CAST(json_extract(props, '$.k') AS DOUBLE)) AS INT)
           END AS k,
           (props IS NOT NULL AND json_valid(props)) AS valid_json
    FROM events
    WHERE event_id < 500
    ORDER BY event_id
    """,
)
def variant_json_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schemaless semi-structured access via Spark 4's VARIANT type:
    try_parse_json → try_variant_get, no declared schema (contrast
    events_json_decode's from_json, which needs one). VARIANT is the
    100 TB answer to ragged JSON: parse once into a shredded binary
    encoding, path-access many times without re-tokenizing, malformed
    rows degrade to NULL instead of failing the job (ANSI-safe).

    Pinned semantics: non-integral numeric ``k`` TRUNCATES toward zero
    (Spark's variant int cast); the oracle mirrors with TRUNC(TRY_CAST)
    because DuckDB's bare CAST(json AS INT) would ROUND instead."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    v = F.try_parse_json(F.col("props"))
    return (
        ev.select(
            "event_id",
            F.try_variant_get(v, "$.k", "int").alias("k"),
            v.isNotNull().alias("valid_json"),
        )
        .orderBy("event_id")
    )


@query(
    "events_gap_filled_hourly",
    oracle="""
    WITH b AS (
      SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
      FROM events
    ), hours AS (
      SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM b
    ), types AS (
      SELECT DISTINCT event_type FROM events
    ), cnt AS (
      SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT h.hour, t.event_type, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
    FROM hours h
    CROSS JOIN types t
    LEFT JOIN cnt c ON c.hour = h.hour AND c.event_type = t.event_type
    ORDER BY h.hour, t.event_type
    """,
)
def events_gap_filled_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with gap filling: a complete hourly calendar
    spine per event type, zero-filled where no events landed — the shape
    downstream forecasting/alerting needs (a bare groupBy silently drops
    empty buckets).

    Scale: the spine is calendar-sized (hours x types — thousands of
    rows at ANY data volume) and broadcasts into the left join; the only
    data-sized work is the hourly count aggregate. F.sequence builds the
    spine declaratively — no driver-side loop."""
    ev = load(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    types = ev.select("event_type").distinct()
    spine = hours.crossJoin(types)
    cnt = ev.groupBy(hour.alias("hour"), "event_type").agg(
        F.count("*").alias("n")
    )
    return (
        spine.join(cnt, ["hour", "event_type"], "left")
        .select(
            "hour",
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        )
        .orderBy("hour", "event_type")
    )


@query(
    "sessionized_path_3grams",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                       OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM gaps
    ), tri AS (
      SELECT event_type || '>' || LEAD(event_type, 1) OVER w2
                        || '>' || LEAD(event_type, 2) OVER w2 AS trigram,
             session_id,
             LEAD(session_id, 2) OVER w2 AS session_id_2ahead
      FROM sess
      WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT trigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM tri
    WHERE session_id_2ahead = session_id
    GROUP BY trigram
    ORDER BY n DESC, trigram
    LIMIT 25
    """,
)
def sessionized_path_3grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: sessionize (30-min gap), then count
    event-type trigrams *within* sessions — the sequence-feature
    extractor behind funnel/recommendation training sets.

    Scale shape: ONE shuffle on user_id; the session id, both leads, and
    the within-session filter all ride the same window partitioning
    (sessions are contiguous in user order, so `lead(session_id, 2) =
    session_id` replaces a second (user, session) shuffle — checking the
    2-ahead row suffices because session ids are non-decreasing). The
    trigram group-by then reduces to ≤|event_types|³ rows."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_session = F.when(gap.isNull() | (gap > SESSION_GAP_SECONDS * 1_000_000), 1).otherwise(0)
    sess = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(new_session)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
    )
    tri = sess.select(
        F.concat_ws(
            ">",
            F.col("event_type"),
            F.lead("event_type", 1).over(w),
            F.lead("event_type", 2).over(w),
        ).alias("trigram"),
        F.col("session_id"),
        F.lead("session_id", 2).over(w).alias("session_id_2ahead"),
    )
    return (
        tri.where(F.col("session_id_2ahead") == F.col("session_id"))
        .groupBy("trigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "trigram")
        .limit(25)
    )


@query(
    "cohort_retention",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts,
             date_trunc('week', MIN(ts) OVER (PARTITION BY user_id)) AS cohort_week
      FROM events
    ), activity AS (
      SELECT DISTINCT user_id, cohort_week,
             CAST(date_diff('day', cohort_week, date_trunc('week', ts)) / 7 AS INT)
               AS week_offset
      FROM tagged
    )
    SELECT CAST(cohort_week AS DATE) AS cohort_week, week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM activity
    GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen week, counted
    once per (cohort, week-offset) they were active in — the table behind
    every retention curve.

    Scale shape: the cohort tag is a window MIN over user_id (rides ONE
    user shuffle — no first-seen self-join), then the distinct+count
    reduces on (cohort, offset, user). Both offsets are exact: the day
    difference of two week-truncated dates is always a multiple of 7, so
    the /7 is integer-exact in either engine."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    tagged = ev.select(
        "user_id",
        "ts",
        F.date_trunc("week", F.min("ts").over(w)).cast("date").alias("cohort_week"),
    )
    activity = tagged.select(
        "user_id",
        "cohort_week",
        (
            F.datediff(F.date_trunc("week", F.col("ts")).cast("date"), F.col("cohort_week"))
            / 7
        )
        .cast("int")
        .alias("week_offset"),
    ).distinct()
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "scd2_user_value_history",
    oracle="""
    WITH v AS (
      SELECT user_id, ts, event_id, value,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      FROM events
      WHERE event_type = 'purchase'
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_versions,
           CAST(COUNT(valid_to) AS BIGINT) AS n_closed,
           CAST(SUM(CASE WHEN valid_to IS NOT NULL
                         THEN epoch_us(valid_to) - epoch_us(ts) END) AS BIGINT)
             AS dwell_us,
           CAST(ROUND(MAX(CASE WHEN valid_to IS NULL THEN value END) * 100) AS BIGINT)
             AS current_value_cents
    FROM v
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def scd2_user_value_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 interval build from a change feed: each purchase is a
    new version of the user's value; LEAD closes the previous validity
    interval ([ts, next_ts), NULL valid_to = current row) — the
    slowly-changing-dimension compaction every warehouse runs on CDC
    streams.

    Scale shape: ONE shuffle (user_id window); the per-user roll-up rides
    the same partitioning. Interval lengths are exact integer
    microseconds (second-granularity date_diff counts boundary
    crossings, which diverges on sub-second timestamps — micros don't)."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    v = ev.select(
        "user_id", "ts", "event_id", "value", F.lead("ts").over(w).alias("valid_to")
    )
    dwell = F.when(
        F.col("valid_to").isNotNull(),
        F.unix_micros(F.col("valid_to")) - F.unix_micros(F.col("ts")),
    )
    current = F.when(
        F.col("valid_to").isNull(), F.round(F.col("value") * 100).cast("bigint")
    )
    return (
        v.groupBy("user_id")
        .agg(
            F.count("*").alias("n_versions"),
            F.count("valid_to").alias("n_closed"),
            F.sum(dwell).cast("bigint").alias("dwell_us"),
            F.max(current).alias("current_value_cents"),
        )
        .orderBy("user_id")
    )


@query(
    "ewma_user_value",
    oracle="""
    WITH ordered AS (
      SELECT user_id,
             list(CAST(ROUND(value * 100) AS BIGINT)::DOUBLE
                  ORDER BY ts, event_id) AS vals
      FROM events
      WHERE event_type = 'purchase'
      GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(vals) AS BIGINT) AS n_purchases,
           ROUND(list_reduce(vals, (acc, x) -> acc * 0.75 + x * 0.25), 6)
             AS ewma_cents
    FROM ordered
    ORDER BY user_id
    """,
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of purchase value per user
    (alpha = 0.25) — the time-decayed feature recursive definitions
    usually force into slow per-row UDFs, expressed instead as a single
    declarative left fold over the time-ordered value array.

    Determinism is the point of the shape: both engines fold LEFT over
    the SAME total order (ts, event_id) seeded with the first element,
    so the double chain is bit-identical (inputs are exact cents;
    alpha = 0.25 and 0.75 are exact binary doubles). One shuffle
    (user_id); the fold is map-side compute on the grouped array."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    cents = F.round(F.col("value") * 100).cast("bigint").cast("double")
    ordered = (
        ev.select("user_id", "ts", "event_id", cents.alias("v"))
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "v"))
            ).alias("rows")
        )
        .select(
            "user_id",
            F.transform(F.col("rows"), lambda r: r["v"]).alias("vals"),
        )
    )
    ewma = F.aggregate(
        F.slice(F.col("vals"), 2, F.greatest(F.size("vals") - 1, F.lit(0))),
        F.element_at(F.col("vals"), 1),
        lambda acc, x: acc * 0.75 + x * 0.25,
    )
    return ordered.select(
        "user_id",
        F.size("vals").cast("bigint").alias("n_purchases"),
        F.round(ewma, 6).alias("ewma_cents"),
    ).orderBy("user_id")


@query(
    "twap_user_daily",
    oracle="""
    WITH seg AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(ROUND(value * 1e4) AS BIGINT) AS iv,
             epoch_us(LEAD(ts) OVER w) - epoch_us(ts) AS dur
      FROM events
      WINDOW w AS (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts, event_id)
    ), agg AS (
      SELECT user_id, day,
             SUM(iv * dur) AS swv, SUM(dur) AS sw,
             CAST(COUNT(*) AS BIGINT) AS n_segments
      FROM seg WHERE dur IS NOT NULL
      GROUP BY user_id, day
    )
    SELECT user_id, day, CAST(swv AS DOUBLE) / sw / 1e4 AS twa_value,
           n_segments
    FROM agg WHERE sw > 0
    ORDER BY user_id, day
    """,
)
def twap_user_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user-day (TWAP shape): each
    event's value holds until the user's next event that day; the
    average weights values by their holding duration, not their count —
    the right aggregate for sampled gauges (sensor readings, position
    marks, price quotes) where burst-sampling must not bias the mean.

    Determinism: weights are exact epoch-microsecond gaps (int64),
    values scale to int64 ten-thousandths; Σ(value·dur) and Σ(dur) are
    exact integer sums, divided once. Days where every event shares one
    timestamp (Σdur = 0) are excluded BEFORE the division — under ANSI
    mode that division would otherwise be a job failure, not a NULL.

    Scale shape: one shuffle on (user_id, day) shared by the lead window
    and the aggregation; both sums are map-side combinable."""
    ev = load(spark, sf_dir, "events")
    # Materialize day BEFORE the window so the window partitioning and
    # the aggregation key are the SAME attribute — partitioning by the
    # expression would mint a fresh internal column (_w1) the group-by
    # can't reuse, costing a second exchange (verified in the plan).
    base = ev.select(
        "user_id", "ts", "event_id", "value", F.to_date("ts").alias("day")
    )
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    mic = F.unix_micros(F.col("ts"))
    dur = F.lead(mic).over(w) - mic
    iv = F.round(F.col("value") * 1e4).cast("bigint")
    seg = base.select(
        "user_id", "day", iv.alias("iv"), dur.alias("dur")
    ).filter(F.col("dur").isNotNull())
    return (
        seg.groupBy("user_id", "day")
        .agg(
            F.sum(F.col("iv") * F.col("dur")).alias("swv"),
            F.sum("dur").alias("sw"),
            F.count("*").alias("n_segments"),
        )
        .filter(F.col("sw") > 0)
        .select(
            "user_id",
            "day",
            (F.col("swv").cast("double") / F.col("sw") / 1e4).alias("twa_value"),
            "n_segments",
        )
        .orderBy("user_id", "day")
    )


@query(
    "events_interpolated_hourly",
    oracle="""
    WITH obs AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             SUM(CAST(ROUND(value * 1e2) AS BIGINT)) AS sc,
             COUNT(*) AS n
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ), bounds AS (
      SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
      FROM events
    ), hours AS (
      SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM bounds
    ), spine AS (
      SELECT t.event_type, h.hour
      FROM hours h CROSS JOIN (SELECT DISTINCT event_type FROM events) t
    ), joined AS (
      SELECT s.event_type, s.hour,
             CAST(o.sc AS BIGINT)::DOUBLE / o.n / 1e2 AS v,
             epoch(s.hour) // 3600 AS eh
      FROM spine s LEFT JOIN obs o
        ON o.event_type = s.event_type AND o.hour = s.hour
    ), filled AS (
      SELECT event_type, hour, v, eh,
             last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN eh END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peh,
             first_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN eh END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS neh
      FROM joined
    )
    SELECT event_type, hour,
           CASE WHEN v IS NOT NULL THEN v
                WHEN pv IS NULL THEN nv
                WHEN nv IS NULL THEN pv
                ELSE pv + (nv - pv) * (eh - peh) / (neh - peh)
           END AS value,
           (v IS NOT NULL) AS observed
    FROM filled
    ORDER BY event_type, hour
    """,
)
def events_interpolated_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample with LINEAR INTERPOLATION for unobserved hours:
    the mean event value per (type, hour) where data exists; for gap
    hours, the straight line between the nearest observed hours (edges
    carry the nearest value). ``events_gap_filled_hourly`` zero-fills —
    right for counts; for a sampled METRIC a missing hour means
    "unobserved", and interpolation is the standard reconstruction
    (monitoring dashboards, feature backfill).

    Determinism: the observed mean is one double division of exact ints;
    prev/next lookups are IGNORE NULLS window frames over a total
    (type, hour) order; the interpolation is a fixed chain of +,-,*,/
    on those values and integer epoch-hour gaps — identical IEEE ops in
    both engines, so the raw double is ALREADY bit-identical and is
    emitted unrounded (presentation rounding would reintroduce the
    engines' round-half divergence on inexact doubles for nothing).

    Scale shape: the data-sized work is ONE map-side-combinable hourly
    aggregate; the spine is calendar-sized (broadcast), and the four
    fill windows all share one (event_type, hour) sort. A year of
    hourly spine is 8.8k rows per type at ANY data volume."""
    ev = load(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    obs = ev.groupBy(F.col("event_type"), hour.alias("hour")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("sc"),
        F.count("*").alias("n"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    hours = bounds.select(
        F.explode(F.sequence(F.col("h0"), F.col("h1"), F.expr("INTERVAL 1 HOUR"))).alias(
            "hour"
        )
    )
    types = ev.select("event_type").distinct()
    spine = hours.crossJoin(F.broadcast(types))
    joined = spine.join(obs, ["event_type", "hour"], "left").select(
        "event_type",
        "hour",
        (F.col("sc").cast("double") / F.col("n") / F.lit(1e2)).alias("v"),
        # FLOOR division to match DuckDB's `epoch(hour) // 3600` (`div`
        # truncates toward zero — diverges by 1 on pre-1970 hours, which
        # would skew the interpolation weights): pmod is non-negative,
        # so (x - pmod(x, y)) div y is an exact integer floor.
        F.expr("(unix_seconds(hour) - pmod(unix_seconds(hour), 3600)) div 3600").alias(
            "eh"
        ),
    )
    w_back = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_eh = F.when(F.col("v").isNotNull(), F.col("eh"))
    filled = joined.select(
        "event_type",
        "hour",
        "v",
        "eh",
        F.last("v", ignorenulls=True).over(w_back).alias("pv"),
        F.last(obs_eh, ignorenulls=True).over(w_back).alias("peh"),
        F.first("v", ignorenulls=True).over(w_fwd).alias("nv"),
        F.first(obs_eh, ignorenulls=True).over(w_fwd).alias("neh"),
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        F.col("eh") - F.col("peh")
    ) / (F.col("neh") - F.col("peh"))
    value = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(interp)
    )
    return filled.select(
        "event_type",
        "hour",
        value.alias("value"),
        F.col("v").isNotNull().alias("observed"),
    ).orderBy("event_type", "hour")


@query(
    "user_active_coverage",
    oracle="""
    WITH iv AS (
      SELECT user_id,
             epoch_us(ts) // 1000000 AS s,
             epoch_us(ts) // 1000000 + 60
               + ((CAST(ROUND(value * 1e2) AS BIGINT) % 600 + 600) % 600) AS e
      FROM events
    ), ordered AS (
      SELECT user_id, s, e,
             MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_e
      FROM iv
    ), flagged AS (
      SELECT user_id, s, e,
             CASE WHEN prev_max_e IS NULL OR s > prev_max_e THEN 1 ELSE 0 END AS new_island
      FROM ordered
    ), islands AS (
      SELECT user_id, s, e,
             SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM flagged
    ), merged AS (
      SELECT user_id, island, MIN(s) AS ms, MAX(e) AS me
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(me - ms) AS BIGINT) AS covered_seconds,
           CAST(MAX(me - ms) AS BIGINT) AS longest_interval
    FROM merged GROUP BY user_id
    ORDER BY user_id
    """,
)
def user_active_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union (total covered time): each event opens an activity
    interval (60 s + a value-derived duration, deterministic stand-in
    for a real duration column); overlapping intervals per user MERGE
    before summing — the uptime/billing/SLA coverage computation, and a
    DIFFERENT algebra from inactivity-gap sessionization
    (``user_sessionization``): islands break on running-MAX-end overlap,
    not on gap length.

    The classic sweep: sort by start, a new island starts where start
    exceeds the running max end of all earlier intervals, island id =
    running sum of the flags, then min(start)/max(end) per island. All
    integer epoch-second arithmetic.

    Scale shape: both windows and both aggregations partition by
    user_id — ONE exchange, per-user sort (bounded by a user's own
    event count), no joins. The same plan shape at any scale."""
    ev = load(spark, sf_dir, "events")
    # unix_seconds truncates toward zero while the oracle's epoch_us //
    # 1e6 floors; identical only for ts >= 1970-01-01 (fixture invariant
    # — pre-epoch data would need the pmod floor-div form, see
    # events_interpolated_hourly).
    s = F.unix_seconds(F.col("ts"))
    dur = F.lit(60) + F.pmod(F.round(F.col("value") * 100).cast("bigint"), F.lit(600))
    iv = ev.select("user_id", s.alias("s"), (s + dur).alias("e"))
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(
            F.max("e").over(w_prev).isNull() | (F.col("s") > F.max("e").over(w_prev)),
            1,
        ).otherwise(0),
    )
    islands = flagged.withColumn("island", F.sum("new_island").over(w_run))
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return (
        merged.groupBy("user_id")
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum(F.col("me") - F.col("ms")).alias("covered_seconds"),
            F.max(F.col("me") - F.col("ms")).alias("longest_interval"),
        )
        .orderBy("user_id")
    )


SEASONAL_LAG_H = 168  # one week of hours
SEASONAL_TOP = 20


@query(
    "seasonal_hourly_residuals",
    oracle=f"""
    WITH obs AS (
      SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ), bounds AS (
      SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
      FROM events
    ), hours AS (
      SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM bounds
    ), spine AS (
      SELECT t.event_type, h.hour
      FROM hours h CROSS JOIN (SELECT DISTINCT event_type FROM events) t
    ), filled AS (
      SELECT s.event_type, s.hour, COALESCE(o.n, 0) AS n
      FROM spine s LEFT JOIN obs o
        ON o.event_type = s.event_type AND o.hour = s.hour
    ), lagged AS (
      SELECT event_type, hour, n,
             LAG(n, {SEASONAL_LAG_H}) OVER (PARTITION BY event_type ORDER BY hour)
               AS n_prev_week
      FROM filled
    ), res AS (
      SELECT event_type, hour, CAST(n AS BIGINT) AS n,
             CAST(n_prev_week AS BIGINT) AS n_prev_week,
             CAST(n - n_prev_week AS BIGINT) AS residual
      FROM lagged WHERE n_prev_week IS NOT NULL
    )
    SELECT event_type, hour, n, n_prev_week, residual, CAST(rank AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY ABS(residual) DESC, event_type, hour)
                 AS rank
          FROM res)
    WHERE rank <= {SEASONAL_TOP}
    ORDER BY rank
    """,
)
def seasonal_hourly_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive anomaly candidates: hourly event counts on a
    zero-filled calendar spine minus the SAME HOUR LAST WEEK (lag 168 on
    the spine — the spine makes the lag a calendar shift; a bare groupBy
    would silently lag over present hours only), top-20 by absolute
    residual. The simplest seasonal baseline in every monitoring stack,
    and the input a proper forecaster (Holt-Winters, STL) would replace.

    Determinism: counts and residuals are integers end-to-end; ranking
    sorts (|residual|, type, hour) — total order.

    Scale shape: one map-side-combinable hourly aggregate joins the
    broadcast calendar spine; the lag is one (type)-partitioned window
    over calendar-sized data; top-k is TakeOrdered."""
    ev = load(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    obs = ev.groupBy(F.col("event_type"), hour.alias("hour")).agg(
        F.count("*").alias("n")
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    hours = bounds.select(
        F.explode(F.sequence(F.col("h0"), F.col("h1"), F.expr("INTERVAL 1 HOUR"))).alias(
            "hour"
        )
    )
    types = ev.select("event_type").distinct()
    spine = hours.crossJoin(F.broadcast(types))
    filled = spine.join(obs, ["event_type", "hour"], "left").select(
        "event_type", "hour", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("hour")
    res = (
        filled.withColumn("n_prev_week", F.lag("n", SEASONAL_LAG_H).over(w))
        .filter(F.col("n_prev_week").isNotNull())
        .select(
            "event_type",
            "hour",
            F.col("n").cast("bigint").alias("n"),
            F.col("n_prev_week").cast("bigint").alias("n_prev_week"),
            (F.col("n") - F.col("n_prev_week")).cast("bigint").alias("residual"),
        )
    )
    return (
        rank_after_limit(
            res,
            [F.abs(F.col("residual")).desc(), F.col("event_type"), F.col("hour")],
            SEASONAL_TOP,
        )
        .select("event_type", "hour", "n", "n_prev_week", "residual", "rank")
        .orderBy("rank")
    )


@query(
    "markov_event_transitions",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
      FROM events
    ), pairs AS (
      SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
      FROM ordered WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    ), totals AS (
      SELECT from_type, SUM(n) AS row_total FROM pairs GROUP BY from_type
    )
    SELECT p.from_type, p.to_type, CAST(p.n AS BIGINT) AS n,
           CAST(p.n AS BIGINT)::DOUBLE / t.row_total AS prob
    FROM pairs p JOIN totals t USING (from_type)
    ORDER BY from_type, to_type
    """,
)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user event sequences:
    P(next event type | current), estimated from per-user (ts, event_id)
    -ordered LEAD pairs — the behavioral model behind next-action
    prediction and anomalous-flow detection
    (``sessionized_path_3grams`` is the higher-order n-gram cousin).

    Determinism: transition counts are integers over a total per-user
    order; each probability is ONE double division of exact ints —
    identical IEEE rounding both engines, emitted unrounded.

    Scale shape: one user_id-keyed window (sequences never cross
    users, so the shuffle is the sessionization exchange) feeding a
    map-side-combinable pair count; the row-total join is
    type-cardinality-sized (broadcast)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    pairs = (
        ordered.filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type"))
        .agg(F.count("*").alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("row_total"))
    return (
        pairs.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            (F.col("n").cast("double") / F.col("row_total")).alias("prob"),
        )
        .orderBy("from_type", "to_type")
    )


LATENESS_BUDGETS_S = (300, 600, 1800)


@query(
    "watermark_lateness_audit",
    oracle=f"""
    WITH arr AS (
      SELECT event_type, event_id,
             epoch_us(ts) // 1000000 AS es,
             MAX(epoch_us(ts) // 1000000) OVER (
               PARTITION BY event_type ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_seen
      FROM events
    ), lat AS (
      SELECT event_type,
             CASE WHEN max_seen IS NULL THEN 0 ELSE
               CASE WHEN max_seen - es > 0 THEN max_seen - es ELSE 0 END END AS late_s
      FROM arr
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(late_s) AS BIGINT) AS max_disorder_s,
           {", ".join(f"CAST(SUM(CASE WHEN late_s > {b} THEN 1 ELSE 0 END) AS BIGINT) AS dropped_at_{b}s" for b in LATENESS_BUDGETS_S)}
    FROM lat GROUP BY event_type
    ORDER BY event_type
    """,
)
def watermark_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark tuning audit: replaying events in arrival order
    (event_id as the arrival sequence), how late is each event behind
    the running max event time, and how many would a 5/10/30-minute
    watermark DROP? This is the batch diagnostic that turns streaming
    watermark choice from a guess into a measurement (run it before
    setting ``withWatermark`` on the live pipeline — the F6 batch twins
    use exactly these budgets).

    Determinism: lateness is integer seconds against a running max over
    a total (event_type, event_id) order; drop counts are integer
    threshold sums.

    Scale shape: one event_type-partitioned window (the same exchange
    the streaming job's keyed state would use) feeding a map-side
    -combinable aggregate; output is type-cardinality-sized."""
    ev = load(spark, sf_dir, "events")
    # trunc-vs-floor: safe for ts >= 1970 only (see user_active_coverage)
    es = F.unix_seconds(F.col("ts"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    arr = ev.select(
        "event_type", es.alias("es"), F.max(es).over(w).alias("max_seen")
    )
    late = F.when(
        F.col("max_seen").isNull() | (F.col("max_seen") - F.col("es") <= 0), F.lit(0)
    ).otherwise(F.col("max_seen") - F.col("es"))
    lat = arr.select("event_type", late.alias("late_s"))
    aggs = [
        F.count("*").alias("n_events"),
        F.max("late_s").alias("max_disorder_s"),
    ] + [
        F.sum(F.when(F.col("late_s") > b, 1).otherwise(0)).alias(f"dropped_at_{b}s")
        for b in LATENESS_BUDGETS_S
    ]
    return lat.groupBy("event_type").agg(*aggs).orderBy("event_type")


FEATURE_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


@query(
    "user_feature_matrix",
    oracle=f"""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {", ".join(f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}" for t in FEATURE_EVENT_TYPES)},
           CAST(SUM(CAST(ROUND(value * 1e2) AS BIGINT)) AS BIGINT) AS total_value_cents,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days,
           CAST(date_diff('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE)) AS BIGINT)
             AS tenure_days,
           CAST(COUNT(*) AS BIGINT)::DOUBLE / COUNT(DISTINCT CAST(ts AS DATE))
             AS events_per_active_day
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def user_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-user feature assembly — the feature-store
    materialization shape: event counts overall and per type
    (conditional sums, no pivot shuffle), exact value totals, active-day
    and tenure spans, and an intensity ratio. Downstream models read
    THIS table; the raw events never leave the aggregation.

    Determinism: all features are integers except the final ratio (one
    exact-int double division); per-type counts use a fixed column list
    so the schema is static (a dynamic pivot would make the schema
    data-dependent — the one thing a feature store cannot have).

    Scale shape: ONE map-side-combinable groupBy(user_id) computes every
    feature — adding features widens the aggregate, never adds passes
    (the count-distinct day is the only expanding accumulator, bounded
    by the calendar)."""
    ev = load(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    aggs = [F.count("*").alias("n_events")]
    aggs += [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")
        for t in FEATURE_EVENT_TYPES
    ]
    aggs += [
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("total_value_cents"),
        F.count_distinct(day).alias("active_days"),
        F.datediff(F.max(day), F.min(day)).cast("bigint").alias("tenure_days"),
        (F.count("*").cast("double") / F.count_distinct(day)).alias(
            "events_per_active_day"
        ),
    ]
    return ev.groupBy("user_id").agg(*aggs).orderBy("user_id")


WAU_WINDOW_DAYS = 7


@query(
    "rolling_weekly_active_users",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), contrib AS (
      SELECT user_id, unnest(generate_series(day, day + INTERVAL {WAU_WINDOW_DAYS - 1} DAY,
                                             INTERVAL 1 DAY))::DATE AS target_day
      FROM du
    ), bounds AS (
      SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events
    )
    SELECT c.target_day AS day,
           CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS wau
    FROM contrib c CROSS JOIN bounds b
    WHERE c.target_day BETWEEN b.d0 AND b.d1
    GROUP BY c.target_day
    ORDER BY day
    """,
)
def rolling_weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day (WAU) — the
    engagement KPI whose naive form (COUNT(DISTINCT) OVER a RANGE
    window) Spark cannot evaluate and brute-force day×history rescans
    cannot afford. The scalable algebra: collapse to DISTINCT
    (user, day) pairs first, then each pair CONTRIBUTES itself to the 7
    target days it is visible in (a bounded explode), and a plain
    per-day count-distinct finishes — total work is 7×|distinct pairs|,
    independent of raw event volume.

    Determinism: pure integers/dates end-to-end.

    Scale shape: one map-side distinct on (user, day) (calendar-bounded
    per user), a 7× array explode, one day-keyed count-distinct. The
    trailing window truncates at the corpus edge (days before d0+6 see
    partial windows — the honest definition for a bounded extract)."""
    ev = load(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    du = ev.select("user_id", day.alias("day")).distinct()
    contrib = du.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.date_add(F.col("day"), WAU_WINDOW_DAYS - 1),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("target_day"),
    )
    bounds = ev.agg(F.min(day).alias("d0"), F.max(day).alias("d1"))
    return (
        contrib.crossJoin(F.broadcast(bounds))
        .filter(F.col("target_day").between(F.col("d0"), F.col("d1")))
        .groupBy(F.col("target_day").alias("day"))
        .agg(F.count_distinct("user_id").alias("wau"))
        .orderBy("day")
    )


# --- Poisson-deviance rate anomaly -----------------------------------------

ANOM_TOP = 30


@query(
    "event_rate_anomaly",
    oracle=f"""
    WITH obs AS (
      SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ), bounds AS (
      SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
      FROM events
    ), hours AS (
      SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM bounds
    ), spine AS (
      SELECT t.event_type, h.hour
      FROM hours h CROSS JOIN (SELECT DISTINCT event_type FROM events) t
    ), filled AS (
      SELECT s.event_type, s.hour, COALESCE(o.n, 0) AS n,
             EXTRACT(hour FROM s.hour) AS hod
      FROM spine s LEFT JOIN obs o
        ON o.event_type = s.event_type AND o.hour = s.hour
    ), slot AS (
      SELECT event_type, hod, SUM(n) AS tot, COUNT(*) AS m
      FROM filled GROUP BY event_type, hod
    ), scored AS (
      SELECT f.event_type, f.hour, CAST(f.n AS BIGINT) AS n,
             CAST(ROUND(s.tot::DOUBLE / s.m * 1e6) AS BIGINT) AS e_i6,
             2 * (CASE WHEN f.n > 0
                       THEN f.n * CAST(ROUND(ln(f.n::DOUBLE * s.m / s.tot) * 1e6)
                                       AS BIGINT)
                       ELSE 0 END
                  - CAST(ROUND((f.n * s.m - s.tot)::DOUBLE / s.m * 1e6)
                         AS BIGINT)) AS dev_i6
      FROM filled f JOIN slot s USING (event_type, hod)
    )
    SELECT event_type, hour, n,
           e_i6::DOUBLE / 1e6 AS expected,
           dev_i6::DOUBLE / 1e6 AS deviance,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY dev_i6 DESC, event_type, hour)
                 AS rank
          FROM scored)
    WHERE rank <= {ANOM_TOP}
    ORDER BY rank
    """,
)
def event_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-deviance rate anomaly: each (event_type, hour) cell is
    scored by the deviance 2·(o·ln(o/e) − (o − e)) against its
    hour-of-day slot baseline e = slot total / slot hours — the GLM
    goodness-of-fit statistic, so a quiet hour (o = 0 → D = 2e) alarms
    as loudly as a spike of equal evidence, which a raw residual
    (``seasonal_hourly_residuals``) understates. Baseline includes the
    scored hour itself (the usual one-pass simplification; a held-out
    baseline is the same query minus one row).

    Determinism: o, slot totals and slot sizes are integers; ln runs on
    one exact integer ratio and is rounded once to 1e-6ths; expected
    and the linear term are rounded once; the deviance is then pure
    int64. Top-k breaks ties on (event_type, hour).

    Scale shape: one (type, hour)-keyed count with map-side combine;
    the calendar spine is generated, not shuffled (broadcast fill —
    same shape as the gap-fill family); slot baselines reduce the
    CELL table (24·|types| rows); scoring is a broadcast join back.
    Top-k is rank-after-limit."""
    ev = load(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count("*").alias("n"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    hours = bounds.select(
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = ev.select("event_type").distinct()
    spine = hours.crossJoin(F.broadcast(types))
    filled = (
        spine.join(F.broadcast(obs), ["event_type", "hour"], "left")
        .select(
            "event_type",
            "hour",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            F.hour("hour").alias("hod"),
        )
    )
    slot = filled.groupBy("event_type", "hod").agg(
        F.sum("n").alias("tot"), F.count("*").alias("m")
    )
    e_i6 = F.round(F.col("tot").cast("double") / F.col("m") * F.lit(1e6)).cast(
        "bigint"
    )
    ln_i6 = F.round(
        F.log(F.col("n").cast("double") * F.col("m") / F.col("tot")) * F.lit(1e6)
    ).cast("bigint")
    diff_i6 = F.round(
        (F.col("n") * F.col("m") - F.col("tot")).cast("double")
        / F.col("m")
        * F.lit(1e6)
    ).cast("bigint")
    scored = filled.join(F.broadcast(slot), ["event_type", "hod"]).select(
        "event_type",
        "hour",
        F.col("n").cast("bigint").alias("n"),
        e_i6.alias("e_i6"),
        (
            2
            * (
                F.when(F.col("n") > 0, F.col("n") * ln_i6)
                .otherwise(F.lit(0).cast("bigint"))
                - diff_i6
            )
        ).alias("dev_i6"),
    )
    return (
        rank_after_limit(
            scored,
            [F.desc("dev_i6"), F.col("event_type"), F.col("hour")],
            ANOM_TOP,
        )
        .select(
            "event_type",
            "hour",
            "n",
            (F.col("e_i6").cast("double") / F.lit(1e6)).alias("expected"),
            (F.col("dev_i6").cast("double") / F.lit(1e6)).alias("deviance"),
            "rank",
        )
        .orderBy("rank")
    )


CUSUM_TOP_K = 10


@query(
    "cusum_changepoint",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY h
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(cnt) AS BIGINT) AS total
      FROM hourly
    ), pre AS (
      SELECT h, cnt,
             CAST(ROW_NUMBER() OVER (ORDER BY h) AS BIGINT) AS k,
             CAST(SUM(cnt) OVER (ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p
      FROM hourly
    ), dev AS (
      SELECT h AS hour_ts, cnt,
             t.n_hours * p - k * t.total AS cusum_scaled,
             ABS(t.n_hours * p - k * t.total) AS absdev
      FROM pre CROSS JOIN tot t
    )
    SELECT hour_ts, cnt, cusum_scaled, CAST(rank AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY absdev DESC, hour_ts) AS rank
          FROM dev)
    WHERE rank <= {CUSUM_TOP_K}
    ORDER BY rank
    """,
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint location over the hourly event rate (Page 1954,
    the offline max-|S| form): S_k = sum_{{i<=k}} (x_i - mean), and the
    hour maximizing |S_k| is the most likely shift point in the arrival
    rate. Kept in EXACT integers by scaling through the hour count:
    n·S_k = n·prefix_k − k·total, so no mean division ever happens and
    both engines agree to the bit. Top-{CUSUM_TOP_K} |deviation| hours.

    Overflow: n_hours·prefix ≤ hours·events ≈ 1e5·1e12 = 1e17 < 2^63 at
    a century of 100 TB/yr ingest.

    Scale shape: hourly counts are one map-side-combinable groupBy; the
    running sum is the DISTRIBUTED prefix-sum primitive
    (``with_global_rank(prefix_of=...)`` — range exchange + broadcast
    offsets, no single-partition window over the hour spine); the totals
    are a 1-row broadcast; top-k is ``rank_after_limit``."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count("*").alias("cnt")
    )
    tot = hourly.agg(
        F.count("*").alias("n_hours"), F.sum("cnt").alias("total")
    )
    pre = with_global_rank(
        hourly, ["h"], rank_col="k", prefix_of="cnt", prefix_col="p"
    )
    cusum = F.col("n_hours") * F.col("p") - F.col("k") * F.col("total")
    dev = pre.crossJoin(F.broadcast(tot)).select(
        F.col("h").alias("hour_ts"),
        "cnt",
        cusum.alias("cusum_scaled"),
        F.abs(cusum).alias("absdev"),
    )
    return (
        rank_after_limit(dev, [F.desc("absdev"), F.col("hour_ts")], CUSUM_TOP_K)
        .select("hour_ts", "cnt", "cusum_scaled", "rank")
        .orderBy("rank")
    )


SLO_BUDGET_INV = 5  # error budget 20% => burn = error_rate * 5 (the
# fixture's synthetic feed runs a ~19% median error rate; a realistic
# 0.1-1% budget is the same arithmetic with a bigger constant)
SLO_BURN_ALERT = 1.5  # page when BOTH windows burn >= 1.5x budget
SLO_LONG_HOURS = 6


@query(
    "slo_burn_rate",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS err,
             CAST(COUNT(*) AS BIGINT) AS tot
      FROM events GROUP BY h
    ), roll AS (
      SELECT b.h, CAST(SUM(a.err) AS BIGINT) AS err_6h,
             CAST(SUM(a.tot) AS BIGINT) AS tot_6h
      FROM hourly a JOIN hourly b
        ON a.h <= b.h AND a.h >= b.h - INTERVAL {SLO_LONG_HOURS - 1} HOUR
      GROUP BY b.h
    )
    SELECT o.h AS hour_ts, o.err AS err_1h, o.tot AS tot_1h,
           o.err::DOUBLE * {SLO_BUDGET_INV} / o.tot AS burn_1h,
           r.err_6h, r.tot_6h,
           r.err_6h::DOUBLE * {SLO_BUDGET_INV} / r.tot_6h AS burn_6h,
           (o.err::DOUBLE * {SLO_BUDGET_INV} / o.tot >= {SLO_BURN_ALERT}
            AND r.err_6h::DOUBLE * {SLO_BUDGET_INV} / r.tot_6h >= {SLO_BURN_ALERT}) AS alert
    FROM hourly o JOIN roll r ON r.h = o.h
    ORDER BY hour_ts
    """,
)
def slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn-rate alerting (the Google SRE workbook
    shape): with a 20% error budget, each hour's burn is
    error_rate x {SLO_BUDGET_INV}, computed over BOTH the 1-hour and the
    trailing {SLO_LONG_HOURS}-hour window; a page fires only when both
    exceed {SLO_BURN_ALERT}x (the short window gives speed, the long
    window suppresses blips).

    Determinism: error/total counts are integers; each burn is ONE
    pinned chain (err * {SLO_BUDGET_INV} / tot) and the alert compares
    those identical doubles.

    Scale shape: the fact table collapses to the hour spine in one
    map-side-combinable groupBy; the trailing window is the BOUNDED
    CONTRIBUTION EXPLODE (each hour fans out to its {SLO_LONG_HOURS}
    target hours — constant fan-out, map-side-combinable re-aggregate,
    equi-join back; the ``rolling_weekly_active_users`` idiom), so no
    range join and no data-sized window ever appears."""
    ev = load(spark, sf_dir, "events")
    return burn_from_hourly(hourly_error_counts(ev).localCheckpoint())


def hourly_error_counts(ev: DataFrame) -> DataFrame:
    """Hour-spine error/total counts — the MERGEABLE core shared by the
    batch query and the streaming foreachBatch twin: partial counts from
    micro-batches sum to exactly this table (see
    ``tests/test_streaming.py::test_slo_burn_accumulates_in_foreachbatch``),
    so the alerting arithmetic cannot drift between the two modes."""
    return ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.sum((F.col("event_type") == "error").cast("bigint")).alias("err"),
        F.count("*").alias("tot"),
    )


def burn_from_hourly(hourly: DataFrame) -> DataFrame:
    """Two-window burn rates + paging decision from an (h, err, tot)
    hour table (the second half of ``slo_burn_rate``)."""
    contrib = hourly.select(
        F.explode(
            F.sequence(
                F.col("h"),
                F.col("h") + F.expr(f"INTERVAL {SLO_LONG_HOURS - 1} HOURS"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("h"),
        "err",
        "tot",
    )
    roll = contrib.groupBy("h").agg(
        F.sum("err").alias("err_6h"), F.sum("tot").alias("tot_6h")
    )
    burn1 = F.col("err").cast("double") * SLO_BUDGET_INV / F.col("tot")
    burn6 = F.col("err_6h").cast("double") * SLO_BUDGET_INV / F.col("tot_6h")
    return (
        hourly.join(roll, "h")
        .select(
            F.col("h").alias("hour_ts"),
            F.col("err").alias("err_1h"),
            F.col("tot").alias("tot_1h"),
            burn1.alias("burn_1h"),
            "err_6h",
            "tot_6h",
            burn6.alias("burn_6h"),
            ((burn1 >= SLO_BURN_ALERT) & (burn6 >= SLO_BURN_ALERT)).alias("alert"),
        )
        .orderBy("hour_ts")
    )


@query(
    "ab_test_uplift",
    oracle=f"""
    WITH units AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT % 2 AS variant,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id, h
    ), arms AS (
      SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(converted) AS BIGINT) AS conv
      FROM units GROUP BY variant
    ), wide AS (
      SELECT
        MAX(CASE WHEN variant = 0 THEN n END) AS n_a,
        MAX(CASE WHEN variant = 0 THEN conv END) AS conv_a,
        MAX(CASE WHEN variant = 1 THEN n END) AS n_b,
        MAX(CASE WHEN variant = 1 THEN conv END) AS conv_b
      FROM arms
    )
    SELECT n_a, conv_a, n_b, conv_b,
           conv_a::DOUBLE / n_a AS p_a,
           conv_b::DOUBLE / n_b AS p_b,
           conv_a::DOUBLE / n_a - conv_b::DOUBLE / n_b AS uplift,
           CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN NULL
                ELSE (conv_a::DOUBLE / n_a - conv_b::DOUBLE / n_b)
                  / sqrt((conv_a + conv_b)::DOUBLE / (n_a + n_b)
                         * (1 - (conv_a + conv_b)::DOUBLE / (n_a + n_b))
                         * (1.0 / n_a + 1.0 / n_b)) END AS z_score
    FROM wide
    """,
)
def ab_test_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation readout: users hash-split 50/50 into arms A/B
    (md5 of a salted user id — deterministic unit-of-randomization
    assignment, reproducible across runs and engines), exposure unit =
    ACTIVE USER-HOUR, conversion = that hour contains a purchase, and
    the two-proportion pooled z-test on the uplift. On this un-treated
    feed the z-score is an A/A test — |z| < 2 is the expected null
    read; the query's real job is wiring assignment, exposure
    granularity, and the variance algebra.

    Determinism: the split is md5-exact; counts are integers; every
    rate and the z-score are pinned chains of double ops identical in
    both engines; all-converted / none-converted feeds return NULL z
    via an identical CASE guard (ANSI-safe — the branch is never
    evaluated) instead of dividing by a zero pooled variance.

    Scale shape: the unit collapse is one map-side-combinable groupBy
    on (user, hour) (conversion as MAX of an indicator — no distinct),
    arms is a 2-row aggregate, and the z arithmetic runs on the 1-row
    pivot."""
    ev = load(spark, sf_dir, "events")
    units = ev.groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("converted")
    ).select(
        "converted",
        (
            md5_int(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))) % 2
        ).alias("variant"),
    )
    arms = units.groupBy("variant").agg(
        F.count("*").alias("n"), F.sum("converted").alias("conv")
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == 0, F.col("conv"))).alias("conv_a"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == 1, F.col("conv"))).alias("conv_b"),
    )
    p_a = F.col("conv_a").cast("double") / F.col("n_a")
    p_b = F.col("conv_b").cast("double") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    raw_z = (p_a - p_b) / F.sqrt(
        pool * (1 - pool) * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    degenerate = (
        (F.col("conv_a") + F.col("conv_b") == 0)
        | (F.col("conv_a") + F.col("conv_b") == F.col("n_a") + F.col("n_b"))
    )
    z = F.when(degenerate, F.lit(None).cast("double")).otherwise(raw_z)
    return wide.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        p_a.alias("p_a"),
        p_b.alias("p_b"),
        (p_a - p_b).alias("uplift"),
        z.alias("z_score"),
    )


FUNNEL_PCTS = (50, 90, 99)


@query(
    "funnel_latency_percentiles",
    oracle=f"""
    WITH su AS (
      SELECT user_id, MIN(ts) AS s_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), pu AS (
      SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM events e JOIN su ON su.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > su.s_ts
      GROUP BY e.user_id
    ), lat AS (
      SELECT su.user_id,
             epoch_us(pu.p_ts) - epoch_us(su.s_ts) AS lat_us
      FROM su JOIN pu ON pu.user_id = su.user_id
    ), ranked AS (
      SELECT lat_us,
             ROW_NUMBER() OVER (ORDER BY lat_us, user_id) AS rn,
             COUNT(*) OVER () AS n
      FROM lat
    ), base AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM su) AS n_signup_users,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lat) AS n_converted
    )
    SELECT b.n_signup_users, b.n_converted,
           {", ".join(f"CAST(MAX(CASE WHEN rn = (n * {p} + 99) // 100 THEN lat_us END) AS BIGINT) AS p{p}_us" for p in FUNNEL_PCTS)}
    FROM ranked CROSS JOIN base b
    GROUP BY b.n_signup_users, b.n_converted
    """,
)
def funnel_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-to-first-purchase latency distribution (the activation
    funnel's time axis): for each user, microseconds from first signup
    to the first STRICTLY LATER purchase; exact nearest-rank p50/p90/p99
    over converting users plus the cohort sizes — the
    ``shipping_latency_percentiles`` contract applied to product
    analytics.

    Determinism: latencies are exact integer microseconds; percentiles
    are RANK-SELECTED (value at row ceil(n*p/100) of the total
    (latency, user) order), never interpolated.

    Scale shape: two map-side-combinable per-user MINs and one user-
    keyed join build the latency table (user-cardinality); the rank
    runs through the DISTRIBUTED global-rank primitive (users are
    entity-scale — 1e9 at 100 TB — so no single-partition window);
    the percentile pick is one conditional aggregate."""
    ev = load(spark, sf_dir, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .filter(F.col("ts") > F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    lat = su.join(pu, "user_id").select(
        "user_id",
        (F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("s_ts"))).alias("lat_us"),
    )
    ranked = with_global_rank(lat, ["lat_us", "user_id"], rank_col="rn")
    base = (
        su.agg(F.count("*").alias("n_signup_users"))
        .crossJoin(F.broadcast(lat.agg(F.count("*").alias("n_converted"))))
    )
    picks = [
        F.max(
            F.when(
                F.col("rn") == F.expr(f"(n_converted * {p} + 99) div 100"),
                F.col("lat_us"),
            )
        )
        .cast("bigint")
        .alias(f"p{p}_us")
        for p in FUNNEL_PCTS
    ]
    return (
        ranked.crossJoin(F.broadcast(base))
        .groupBy("n_signup_users", "n_converted")
        .agg(*picks)
    )


ACF_LAGS = (1, 24, 168)


@query(
    "hourly_autocorrelation",
    oracle=f"""
    WITH hourly AS (
      SELECT CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS hidx,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY hidx
    ), lags AS (
      SELECT unnest([{", ".join(str(l) for l in ACF_LAGS)}]) AS lag_hours
    ), paired AS (
      SELECT l.lag_hours, a.x AS xa, b.x AS xb
      FROM lags l
      JOIN hourly a ON TRUE
      JOIN hourly b ON b.hidx = a.hidx + l.lag_hours
    ), sums AS (
      SELECT lag_hours,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(xa) AS BIGINT) AS sx, CAST(SUM(xb) AS BIGINT) AS sy,
             CAST(SUM(xa * xa) AS BIGINT) AS sxx,
             CAST(SUM(xb * xb) AS BIGINT) AS syy,
             CAST(SUM(xa * xb) AS BIGINT) AS sxy
      FROM paired GROUP BY lag_hours
    )
    SELECT lag_hours, n AS n_pairs,
           CASE WHEN n < 2 THEN NULL
                ELSE (sxy::DOUBLE - sx::DOUBLE * sy / n)
                  / (sqrt(sxx::DOUBLE - sx::DOUBLE * sx / n)
                     * sqrt(syy::DOUBLE - sy::DOUBLE * sy / n)) END AS r
    FROM sums
    ORDER BY lag_hours
    """,
)
def hourly_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality fingerprint of the event stream: Pearson
    autocorrelation of the hourly arrival counts at lags
    {ACF_LAGS} hours (adjacent / daily / weekly) over hour pairs where
    both endpoints exist — r(24) near 1 says the load is diurnal, and
    the (1, 24, 168) triple is the input a capacity model fits.

    Determinism: counts are integers; per-lag moment sums are exact
    int64 (divide-early chain, the ``zipf_exponent_fit`` contract —
    safe while hourly_count^2 x n_hours < 2^63, i.e. to ~3e6
    events/hour on a decade spine; past that, pre-scale the counts);
    each r is one pinned double chain; degenerate spines (n < 2)
    return NULL via an identical CASE.

    Scale shape: the fact table collapses to the hour spine once; the
    lag pairing is an integer EQUI-join (hidx + lag) fanned by the
    3-row lag table — no window, no range join; one tiny aggregate per
    lag."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
        .cast("bigint")
        .alias("hidx")
    ).agg(F.count("*").alias("x")).localCheckpoint()
    lags = spark.createDataFrame([(l,) for l in ACF_LAGS], "lag_hours bigint")
    a = hourly.select("hidx", F.col("x").alias("xa"))
    b = hourly.select(F.col("hidx").alias("hidx_b"), F.col("x").alias("xb"))
    paired = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("hidx_b") == F.col("hidx") + F.col("lag_hours"))
    )
    sums = paired.groupBy("lag_hours").agg(
        F.count("*").alias("n"),
        F.sum("xa").alias("sx"),
        F.sum("xb").alias("sy"),
        F.sum(F.col("xa") * F.col("xa")).alias("sxx"),
        F.sum(F.col("xb") * F.col("xb")).alias("syy"),
        F.sum(F.col("xa") * F.col("xb")).alias("sxy"),
    )
    n = F.col("n")
    mxy = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / n
    mxx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / n
    myy = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / n
    return (
        sums.select(
            "lag_hours",
            n.alias("n_pairs"),
            F.when(n < 2, F.lit(None).cast("double"))
            .otherwise(mxy / (F.sqrt(mxx) * F.sqrt(myy)))
            .alias("r"),
        )
        .orderBy("lag_hours")
    )


@query(
    "cohort_ltv_matrix",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey,
             MIN(CAST((EXTRACT(year FROM o_orderdate) - 1992) * 12
                      + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT)) AS cohort_m
      FROM orders GROUP BY o_custkey
    ), sized AS (
      SELECT cohort_m, CAST(COUNT(*) AS BIGINT) AS cohort_size
      FROM firsts GROUP BY cohort_m
    ), spend AS (
      SELECT f.cohort_m,
             CAST((EXTRACT(year FROM o.o_orderdate) - 1992) * 12
                  + EXTRACT(month FROM o.o_orderdate) - 1 AS BIGINT) - f.cohort_m AS age_months,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 1e2) AS BIGINT)) AS BIGINT) AS rev_c
      FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
      GROUP BY f.cohort_m, age_months
    ), cum AS (
      SELECT cohort_m, age_months,
             CAST(SUM(rev_c) OVER (PARTITION BY cohort_m ORDER BY age_months
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rev_c
      FROM spend
    )
    SELECT c.cohort_m AS cohort_month, c.age_months, s.cohort_size,
           c.cum_rev_c AS cum_revenue_cents
    FROM cum c JOIN sized s ON s.cohort_m = c.cohort_m
    ORDER BY cohort_month, age_months
    """,
)
def cohort_ltv_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle: customers grouped by the month of
    their FIRST order, each cohort's cumulative revenue tracked by
    months-since-acquisition — the matrix every growth model reads LTV
    curves from (``cohort_retention`` counts heads; this follows the
    money).

    Determinism: revenue is exact cents; cohort/age are integer month
    indexes; the cumulative sum is an integer window over the
    (cohort, age) total order.

    Scale shape: first-order months and per-(cohort, age) revenue are
    map-side-combinable groupBys over one customer-keyed join; the
    running sum partitions by cohort over a CALENDAR-bounded axis (<=
    n_months rows per cohort — never data-sized); output is the
    months^2/2 triangle."""
    orders = load(spark, sf_dir, "orders")
    midx = (
        (F.year("o_orderdate") - F.lit(1992)) * 12 + F.month("o_orderdate") - 1
    ).cast("bigint")
    firsts = orders.groupBy("o_custkey").agg(F.min(midx).alias("cohort_m"))
    sized = firsts.groupBy("cohort_m").agg(F.count("*").alias("cohort_size"))
    spend = (
        orders.join(firsts, "o_custkey")
        .groupBy(
            "cohort_m", (midx - F.col("cohort_m")).alias("age_months")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev_c")
        )
    )
    w = (
        Window.partitionBy("cohort_m")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = spend.select(
        "cohort_m", "age_months", F.sum("rev_c").over(w).alias("cum_rev_c")
    )
    return (
        cum.join(sized, "cohort_m")
        .select(
            F.col("cohort_m").alias("cohort_month"),
            "age_months",
            "cohort_size",
            F.col("cum_rev_c").alias("cum_revenue_cents"),
        )
        .orderBy("cohort_month", "age_months")
    )


BACKTEST_SEASON_HOURS = 168


@query(
    "seasonal_naive_backtest",
    oracle=f"""
    WITH hourly AS (
      SELECT CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS hidx,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY hidx
    ), mx AS (
      SELECT MAX(hidx) AS mh FROM hourly
    ), holdout AS (
      SELECT h.hidx, h.x FROM hourly h CROSS JOIN mx
      WHERE h.hidx > mx.mh - {BACKTEST_SEASON_HOURS}
    ), joined AS (
      SELECT t.hidx, t.x, f.x AS fcst
      FROM holdout t JOIN hourly f
        ON f.hidx = t.hidx - {BACKTEST_SEASON_HOURS}
    ), sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(ABS(x - fcst)) AS BIGINT) AS sae,
             CAST(SUM(x - fcst) AS BIGINT) AS se,
             CAST(SUM(x) AS BIGINT) AS sx
      FROM joined
    )
    SELECT n AS n_hours,
           CASE WHEN n = 0 THEN NULL ELSE sae::DOUBLE / n END AS mae,
           CASE WHEN n = 0 THEN NULL ELSE se::DOUBLE / n END AS bias,
           CASE WHEN sx = 0 THEN NULL ELSE sae::DOUBLE / sx END AS wape
    FROM sums
    """,
)
def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-quality floor for the event stream: the seasonal-naive
    model (predict this hour = same hour last week) backtested on the
    final {BACKTEST_SEASON_HOURS}-hour holdout — MAE, signed bias, and
    WAPE (sum |err| / sum actual — the weighted MAPE that never divides
    by a zero-traffic hour). Any real model must beat these numbers;
    the diurnal/weekly strength feeding the model choice is
    ``hourly_autocorrelation``'s output.

    Determinism: counts, errors, and all three numerators/denominators
    are exact int64 sums; each metric is one double divide behind an
    identical zero-guard CASE.

    Scale shape: the fact table collapses to the hour spine once; the
    forecast join is an integer equi-join (hidx - {BACKTEST_SEASON_HOURS});
    metrics are one scalar aggregate."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
        .cast("bigint")
        .alias("hidx")
    ).agg(F.count("*").alias("x")).localCheckpoint()
    mx = hourly.agg(F.max("hidx").alias("mh"))
    holdout = hourly.crossJoin(F.broadcast(mx)).filter(
        F.col("hidx") > F.col("mh") - BACKTEST_SEASON_HOURS
    )
    fcst = hourly.select(
        (F.col("hidx") + BACKTEST_SEASON_HOURS).alias("hidx"),
        F.col("x").alias("fcst"),
    )
    joined = holdout.select("hidx", "x").join(fcst, "hidx")
    sums = joined.agg(
        F.count("*").alias("n"),
        F.sum(F.abs(F.col("x") - F.col("fcst"))).alias("sae"),
        F.sum(F.col("x") - F.col("fcst")).alias("se"),
        F.sum("x").alias("sx"),
    )
    n = F.col("n")
    return sums.select(
        n.alias("n_hours"),
        F.when(n == 0, F.lit(None).cast("double"))
        .otherwise(F.col("sae").cast("double") / n)
        .alias("mae"),
        F.when(n == 0, F.lit(None).cast("double"))
        .otherwise(F.col("se").cast("double") / n)
        .alias("bias"),
        F.when(F.col("sx") == 0, F.lit(None).cast("double"))
        .otherwise(F.col("sae").cast("double") / F.col("sx"))
        .alias("wape"),
    )


KM_CENSOR_DAYS = 30


@query(
    "kaplan_meier_retention",
    oracle=f"""
    WITH spans AS (
      SELECT l_orderkey,
             CAST(date_diff('day', MIN(l_shipdate), MAX(l_shipdate)) AS BIGINT) AS dur,
             MAX(l_shipdate) AS last_ship
      FROM lineitem GROUP BY l_orderkey
    ), horizon AS (
      SELECT MAX(l_shipdate) AS max_ship FROM lineitem
    ), durs AS (
      SELECT s.dur,
             (s.last_ship > h.max_ship - INTERVAL {KM_CENSOR_DAYS} DAY) AS censored
      FROM spans s CROSS JOIN horizon h
    ), nn AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM durs
    ), daily AS (
      SELECT dur AS t,
             CAST(SUM(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS leaving
      FROM durs GROUP BY dur
    ), ordered AS (
      SELECT t, d, leaving,
             CAST(COALESCE(SUM(leaving) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS left_before
      FROM daily
    ), factored AS (
      SELECT t, d, nn.n_total - left_before AS n_at_risk,
             CASE WHEN d = 0 THEN CAST(0 AS BIGINT)
                  WHEN d = nn.n_total - left_before THEN NULL
                  ELSE CAST(ROUND(ln((nn.n_total - left_before - d)::DOUBLE
                                     / (nn.n_total - left_before)) * 1e6) AS BIGINT)
             END AS lf_i6
      FROM ordered CROSS JOIN nn
    ), summed AS (
      SELECT t, d, n_at_risk,
             CAST(SUM(COALESCE(lf_i6, 0)) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_i6,
             MAX(CASE WHEN lf_i6 IS NULL THEN 1 ELSE 0 END) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hit_zero
      FROM factored
    )
    SELECT t AS day, n_at_risk, d AS n_completed,
           CASE WHEN hit_zero = 1 THEN NULL
                ELSE cum_i6::DOUBLE / 1e6 END AS log_survival
    FROM summed
    WHERE d > 0
    ORDER BY day
    """,
)
def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival of order fulfillment with right-censoring
    (Kaplan & Meier 1958): an order's lifetime is the days from its
    first to its last shipment; orders whose last observed shipment
    falls within {KM_CENSOR_DAYS} days of the feed's edge are CENSORED
    (they may still be shipping — counting them as complete biases the
    curve optimistic, the classic mistake this estimator exists to
    avoid). Output: each completion day with its risk-set size and the
    LOG survival (ln S(t) = sum ln(1 - d_i/n_i) — emitted as the log
    because the repo's determinism contract rounds ln once per day-TYPE
    and sums integers; exponentiating would add a second,
    engine-specific libm call. S(t) = exp(log_survival); NULL marks
    the curve hitting zero).

    Determinism: day counts and risk sets are exact integers from one
    prefix sum over the DAY domain; per-day log factors round once to
    int64 millionths; the survival log is an integer prefix sum.

    Scale shape: the fact table collapses to per-order spans (one
    map-side-combinable groupBy), then to the day domain (calendar-
    bounded); both running quantities are windows over that bounded
    value domain — the ``equi_depth_price_deciles`` tolerated class,
    never data-sized."""
    li = load(spark, sf_dir, "lineitem")
    spans = li.groupBy("l_orderkey").agg(
        F.datediff(F.max("l_shipdate"), F.min("l_shipdate"))
        .cast("bigint")
        .alias("dur"),
        F.max("l_shipdate").alias("last_ship"),
    )
    horizon = li.agg(F.max("l_shipdate").alias("max_ship"))
    durs = spans.crossJoin(F.broadcast(horizon)).select(
        "dur",
        (
            F.col("last_ship")
            > F.date_sub(F.col("max_ship"), KM_CENSOR_DAYS)
        ).alias("censored"),
    )
    nn = durs.agg(F.count("*").alias("n_total"))
    daily = durs.groupBy(F.col("dur").alias("t")).agg(
        F.sum((~F.col("censored")).cast("bigint")).alias("d"),
        F.count("*").alias("leaving"),
    )
    w_before = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_incl = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    # bounded value domain (distinct lifetime days) — the tolerated
    # single-partition window class; see docstring
    ordered = daily.select(
        "t",
        "d",
        F.coalesce(F.sum("leaving").over(w_before), F.lit(0)).alias("left_before"),
    )
    at_risk = F.col("n_total") - F.col("left_before")
    lf = (
        F.when(F.col("d") == 0, F.lit(0).cast("bigint"))
        .when(F.col("d") == at_risk, F.lit(None).cast("bigint"))
        .otherwise(
            F.round(
                F.log((at_risk - F.col("d")).cast("double") / at_risk) * F.lit(1e6)
            ).cast("bigint")
        )
    )
    factored = ordered.crossJoin(F.broadcast(nn)).select(
        "t", "d", at_risk.alias("n_at_risk"), lf.alias("lf_i6")
    )
    summed = factored.select(
        "t",
        "d",
        "n_at_risk",
        F.sum(F.coalesce(F.col("lf_i6"), F.lit(0))).over(w_incl).alias("cum_i6"),
        F.max(F.col("lf_i6").isNull().cast("int")).over(w_incl).alias("hit_zero"),
    )
    return (
        summed.filter(F.col("d") > 0)
        .select(
            F.col("t").alias("day"),
            "n_at_risk",
            F.col("d").alias("n_completed"),
            F.when(F.col("hit_zero") == 1, F.lit(None).cast("double"))
            .otherwise(F.col("cum_i6").cast("double") / F.lit(1e6))
            .alias("log_survival"),
        )
        .orderBy("day")
    )


# --- multi-touch attribution (round 7) --------------------------------------

ATTR_WINDOW_DAYS = 7
ATTR_TOUCH_TYPES = ("view", "click")


@query(
    "linear_attribution_revenue",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS pid, user_id, ts,
             CAST(ROUND(value * 1e2) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ), t AS (
      SELECT user_id, ts AS tts, event_type AS touch_type
      FROM events WHERE event_type IN ('view', 'click')
    ), pairs AS (
      SELECT p.pid, p.cents, t.touch_type
      FROM p JOIN t ON t.user_id = p.user_id
       AND t.tts < p.ts AND t.tts >= p.ts - INTERVAL {ATTR_WINDOW_DAYS} DAY
    ), ntch AS (
      SELECT pid, COUNT(*) AS n_t FROM pairs GROUP BY pid
    ), credited AS (
      SELECT pr.touch_type,
             CAST(pr.cents AS HUGEINT) * 1000000 // n.n_t AS credit_i6
      FROM pairs pr JOIN ntch n USING (pid)
    ), per_type AS (
      SELECT touch_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
             SUM(credit_i6) AS c6
      FROM credited GROUP BY touch_type
    ), direct AS (
      SELECT 'direct' AS touch_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
             SUM(CAST(cents AS HUGEINT) * 1000000) AS c6
      FROM p WHERE NOT EXISTS (SELECT 1 FROM ntch n WHERE n.pid = p.pid)
    )
    SELECT touch_type, n_touches,
           ROUND(CAST(c6 AS DOUBLE) / 1e8, 6) AS credited_revenue
    FROM (SELECT * FROM per_type UNION ALL SELECT * FROM direct)
    ORDER BY touch_type
    """,
)
def linear_attribution_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (even-split) multi-touch attribution: each purchase's
    revenue is credited equally across every view/click touch by the
    same user in the preceding {ATTR_WINDOW_DAYS} days; purchases with
    no preceding touch report as 'direct'. The marketing readout that
    decides channel budgets — and the multi-touch generalization of the
    as-of join's last-touch answer.

    Determinism: per-(purchase, touch) credit freezes to exact i6
    cents via integer floor division (truncation dust stays inside the
    purchase, bounded by n_touches·1e-6 cents — conservation is pinned
    by test); per-type totals are integer sums with one final division.

    Scale shape: the touch window is a USER-KEYED range join bounded by
    the attribution window (the range_join_incident_windows class: one
    shuffle on user_id, per-user sort-merge within ±{ATTR_WINDOW_DAYS}
    days — never a global inequality product); touch counts reduce by
    purchase id; the 'direct' remainder is a keyed anti-join."""
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("puser"),
        F.col("ts").alias("pts"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    t = ev.filter(F.col("event_type").isin(*ATTR_TOUCH_TYPES)).select(
        F.col("user_id").alias("tuser"),
        F.col("ts").alias("tts"),
        F.col("event_type").alias("touch_type"),
    )
    pairs = p.join(
        t,
        (F.col("tuser") == F.col("puser"))
        & (F.col("tts") < F.col("pts"))
        & (F.col("tts") >= F.expr(f"pts - INTERVAL {ATTR_WINDOW_DAYS} DAY")),
    ).select("pid", "cents", "touch_type")
    ntch = pairs.groupBy("pid").agg(F.count("*").alias("n_t"))
    dec = "decimal(38,0)"
    credited = pairs.join(ntch, "pid").select(
        "touch_type",
        int_div_exact(
            F.col("cents").cast(dec) * 1000000, F.col("n_t").cast(dec)
        ).alias("credit_i6"),
    )
    per_type = credited.groupBy("touch_type").agg(
        F.count("*").alias("n_touches"), F.sum("credit_i6").alias("c6")
    )
    direct = (
        p.join(ntch, "pid", "left_anti")
        .agg(
            F.count("*").alias("n_touches"),
            F.sum(F.col("cents").cast(dec) * 1000000).alias("c6"),
        )
        .select(F.lit("direct").alias("touch_type"), "n_touches", "c6")
    )
    return (
        per_type.unionByName(direct)
        .select(
            "touch_type",
            "n_touches",
            F.round(F.col("c6").cast("double") / 1e8, 6).alias("credited_revenue"),
        )
        .orderBy("touch_type")
    )


# --- CUPED variance reduction (round 7) -------------------------------------

CUPED_SPLIT_TS = "2024-01-15"
# md5("cuped")[:12] as int, reduced mod 999983 so user_id*salt stays far
# inside int64 at any user-id scale (1e12 ids x 1e6 salt = 1e18 < 2^63);
# pinned as a literal so both engines share the exact constant
CUPED_SALT = 910367


@query(
    "cuped_adjusted_uplift",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             SUM(CASE WHEN ts < TIMESTAMP '{CUPED_SPLIT_TS}'
                 THEN CAST(ROUND(value * 1e2) AS BIGINT) ELSE 0 END) AS x,
             SUM(CASE WHEN ts >= TIMESTAMP '{CUPED_SPLIT_TS}'
                 THEN CAST(ROUND(value * 1e2) AS BIGINT) ELSE 0 END) AS y,
             (user_id * {CUPED_SALT} % 1000000007) % 2 AS arm
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), pool AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM u
    ), arms AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_a,
             SUM(CAST(x AS HUGEINT)) AS sx_a, SUM(CAST(y AS HUGEINT)) AS sy_a
      FROM u GROUP BY arm
    ), th AS (
      SELECT n, sx, sy,
             CASE WHEN n * sxx > sx * sx THEN
               CAST(ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                          / CAST(n * sxx - sx * sx AS DOUBLE) * 1e6) AS BIGINT)
             END AS theta6,
             CASE WHEN n * sxx > sx * sx AND n * syy > sy * sy THEN
               ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                     * CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE)
                     / CAST(n * syy - sy * sy AS DOUBLE), 6)
             END AS var_reduction
      FROM pool
    ), wide AS (
      SELECT
        MAX(CASE WHEN arm = 1 THEN n_a END) AS nt,
        MAX(CASE WHEN arm = 0 THEN n_a END) AS nc,
        MAX(CASE WHEN arm = 1 THEN sx_a END) AS sxt,
        MAX(CASE WHEN arm = 0 THEN sx_a END) AS sxc,
        MAX(CASE WHEN arm = 1 THEN sy_a END) AS syt,
        MAX(CASE WHEN arm = 0 THEN sy_a END) AS syc
      FROM arms
    )
    SELECT w.nt AS n_treat, w.nc AS n_ctrl,
           CASE WHEN w.nt > 0 AND w.nc > 0 THEN
             ROUND((CAST(w.syt AS DOUBLE) / w.nt
                    - CAST(w.syc AS DOUBLE) / w.nc) / 100, 6) END AS uplift_raw,
           CASE WHEN w.nt > 0 AND w.nc > 0 AND t.theta6 IS NOT NULL THEN
             ROUND(((CAST(w.syt AS DOUBLE) / w.nt
                     - CAST(w.syc AS DOUBLE) / w.nc)
                    - t.theta6 / 1e6 * (CAST(w.sxt AS DOUBLE) / w.nt
                                        - CAST(w.sxc AS DOUBLE) / w.nc))
                   / 100, 6) END AS uplift_cuped,
           CASE WHEN t.theta6 IS NOT NULL THEN t.theta6 / 1e6 END AS theta,
           t.var_reduction
    FROM wide w, th t
    """,
)
def cuped_adjusted_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (controlled-experiment using pre-experiment data; Deng et
    al. 2013 — the variance-reduction standard at every experimentation
    platform): per-user pre-period purchase value is the covariate X,
    post-period value the metric Y; θ = cov(X,Y)/var(X) pooled across
    arms; the adjusted uplift subtracts θ·(X̄_t − X̄_c) from the raw
    uplift, and the variance-reduction factor is the squared X-Y
    correlation. Because the adjustment is linear, NO per-user adjusted
    metric needs materializing — the whole readout collapses to per-arm
    and pooled moment sums.

    Determinism: per-user sums and the five pooled moments are exact
    integers (HUGEINT/decimal); θ rounds to i6 once; both uplifts and
    the reduction factor are pinned scalar chains rounded to 6. The arm
    assignment is a salted multiplicative hash of user_id (engine-
    identical; salt pinned by the md5 constant). Degenerate covariates
    (constant X) yield NULL θ/CUPED under identical guards.

    Scale shape: ONE user-keyed aggregate off one scan (users are
    entity-scale, so it shuffles on the key), then two scalar
    aggregates of THAT table; output is one row."""
    ev = load(spark, sf_dir, "events")
    u = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("ts") < CUPED_SPLIT_TS,
                    F.round(F.col("value") * 100).cast("bigint"),
                ).otherwise(F.lit(0))
            ).alias("x"),
            F.sum(
                F.when(
                    F.col("ts") >= CUPED_SPLIT_TS,
                    F.round(F.col("value") * 100).cast("bigint"),
                ).otherwise(F.lit(0))
            ).alias("y"),
        )
        .select(
            "x",
            "y",
            ((F.col("user_id") * CUPED_SALT % 1000000007) % 2).alias("arm"),
        )
    )
    dec = "decimal(38,0)"
    pool = u.agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
    )
    arms = u.groupBy("arm").agg(
        F.count("*").alias("n_a"),
        F.sum(F.col("x").cast(dec)).alias("sx_a"),
        F.sum(F.col("y").cast(dec)).alias("sy_a"),
    )
    cnum = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    th = pool.select(
        F.when(
            vx > 0,
            F.round(cnum.cast("double") / vx.cast("double") * 1e6).cast("bigint"),
        ).alias("theta6"),
        F.when(
            (vx > 0) & (vy > 0),
            F.round(
                cnum.cast("double") * cnum.cast("double")
                / vx.cast("double")
                / vy.cast("double"),
                6,
            ),
        ).alias("var_reduction"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 1, F.col("n_a"))).alias("nt"),
        F.max(F.when(F.col("arm") == 0, F.col("n_a"))).alias("nc"),
        F.max(F.when(F.col("arm") == 1, F.col("sx_a"))).alias("sxt"),
        F.max(F.when(F.col("arm") == 0, F.col("sx_a"))).alias("sxc"),
        F.max(F.when(F.col("arm") == 1, F.col("sy_a"))).alias("syt"),
        F.max(F.when(F.col("arm") == 0, F.col("sy_a"))).alias("syc"),
    )
    ok = (F.col("nt") > 0) & (F.col("nc") > 0)
    raw = (
        F.col("syt").cast("double") / F.col("nt")
        - F.col("syc").cast("double") / F.col("nc")
    )
    dx = (
        F.col("sxt").cast("double") / F.col("nt")
        - F.col("sxc").cast("double") / F.col("nc")
    )
    hast = F.col("theta6").isNotNull()
    return wide.crossJoin(F.broadcast(th)).select(
        F.col("nt").alias("n_treat"),
        F.col("nc").alias("n_ctrl"),
        F.when(ok, F.round(raw / 100, 6)).alias("uplift_raw"),
        F.when(
            ok & hast,
            F.round((raw - F.col("theta6") / 1e6 * dx) / 100, 6),
        ).alias("uplift_cuped"),
        F.when(hast, F.col("theta6") / 1e6).alias("theta"),
        "var_reduction",
    )


# --- capture-recapture population estimate (round 7) ------------------------

CR_CAPTURE_A = "view"
CR_CAPTURE_B = "click"


@query(
    "capture_recapture_population",
    oracle=f"""
    WITH a AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = '{CR_CAPTURE_A}'
    ), b AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = '{CR_CAPTURE_B}'
    ), m AS (
      SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n1,
             CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n2,
             CAST((SELECT COUNT(*) FROM a JOIN b USING (user_id)) AS BIGINT)
               AS overlap,
             CAST((SELECT COUNT(DISTINCT user_id) FROM events) AS BIGINT)
               AS observed_total
    )
    SELECT n1, n2, overlap, observed_total,
           ROUND(CAST(n1 + 1 AS DOUBLE) * (n2 + 1) / (overlap + 1) - 1, 3)
             AS chapman_estimate,
           CASE WHEN overlap > 0 THEN
             ROUND(CAST(observed_total AS DOUBLE)
                   / (CAST(n1 + 1 AS DOUBLE) * (n2 + 1) / (overlap + 1) - 1),
                   6) END AS coverage_ratio
    FROM m
    """,
)
def capture_recapture_population(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman's capture-recapture estimate of the TOTAL population from
    two overlapping observation channels: treat '{CR_CAPTURE_A}'-ers and
    '{CR_CAPTURE_B}'-ers as two captures of the same user universe; the
    bias-corrected Lincoln-Petersen estimator (n1+1)(n2+1)/(m+1) − 1
    says how many users exist INCLUDING the ones neither channel saw.
    The same arithmetic estimates crawl-frontier completeness (two
    independent discovery passes → how many pages exist that neither
    found) — the coverage question a collection pipeline cannot answer
    by counting what it has.

    Determinism: three exact distinct counts and one keyed semi-join
    overlap; Chapman and the coverage ratio are single pinned double
    chains (Chapman is well-defined even at zero overlap; the coverage
    ratio guards it).

    Scale shape: distinct-user sets are keyed aggregates; the overlap
    is one equi-join of entity-keyed frames; output is one row."""
    ev = load(spark, sf_dir, "events")
    a = (
        ev.filter(F.col("event_type") == CR_CAPTURE_A)
        .select("user_id")
        .distinct()
    )
    b = (
        ev.filter(F.col("event_type") == CR_CAPTURE_B)
        .select("user_id")
        .distinct()
    )
    m = (
        a.agg(F.count("*").alias("n1"))
        .crossJoin(b.agg(F.count("*").alias("n2")))
        .crossJoin(a.join(b, "user_id").agg(F.count("*").alias("overlap")))
        .crossJoin(
            ev.agg(F.countDistinct("user_id").alias("observed_total"))
        )
    )
    chapman = (
        (F.col("n1") + 1).cast("double")
        * (F.col("n2") + 1)
        / (F.col("overlap") + 1)
        - 1
    )
    return m.select(
        "n1",
        "n2",
        "overlap",
        "observed_total",
        F.round(chapman, 3).alias("chapman_estimate"),
        F.when(
            F.col("overlap") > 0,
            F.round(F.col("observed_total").cast("double") / chapman, 6),
        ).alias("coverage_ratio"),
    )


LOGRANK_G_A = "1-URGENT"
LOGRANK_G_B = "5-LOW"


@query(
    "logrank_priority_survival",
    oracle=f"""
    WITH spans AS (
      SELECT l_orderkey,
             CAST(date_diff('day', MIN(l_shipdate), MAX(l_shipdate)) AS BIGINT) AS dur,
             MAX(l_shipdate) AS last_ship
      FROM lineitem GROUP BY l_orderkey
    ), horizon AS (
      SELECT MAX(l_shipdate) AS max_ship FROM lineitem
    ), durs AS (
      SELECT CASE WHEN o.o_orderpriority = '{LOGRANK_G_A}' THEN 1 ELSE 0 END AS g,
             s.dur,
             (s.last_ship > h.max_ship - INTERVAL {KM_CENSOR_DAYS} DAY) AS censored
      FROM spans s
      JOIN orders o ON o.o_orderkey = s.l_orderkey
      CROSS JOIN horizon h
      WHERE o.o_orderpriority IN ('{LOGRANK_G_A}', '{LOGRANK_G_B}')
    ), totals AS (
      SELECT CAST(SUM(g) AS BIGINT) AS n_a,
             CAST(SUM(1 - g) AS BIGINT) AS n_b
      FROM durs
    ), daily AS (
      SELECT dur AS t,
             CAST(SUM(CASE WHEN g = 1 AND NOT censored THEN 1 ELSE 0 END) AS BIGINT) AS d1,
             CAST(SUM(CASE WHEN g = 0 AND NOT censored THEN 1 ELSE 0 END) AS BIGINT) AS d2,
             CAST(SUM(g) AS BIGINT) AS l1,
             CAST(SUM(1 - g) AS BIGINT) AS l2
      FROM durs GROUP BY dur
    ), cums AS (
      SELECT t, d1, d2,
             CAST(COALESCE(SUM(l1) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS lb1,
             CAST(COALESCE(SUM(l2) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS lb2
      FROM daily
    ), terms AS (
      SELECT d1, d1 + d2 AS d,
             tt.n_a - lb1 AS n1, tt.n_b - lb2 AS n2,
             tt.n_a - lb1 + tt.n_b - lb2 AS n
      FROM cums CROSS JOIN totals tt
      WHERE d1 + d2 > 0 AND tt.n_a - lb1 + tt.n_b - lb2 >= 2
    ), summed AS (
      SELECT CAST(SUM(d1) AS BIGINT) AS o1,
             CAST(SUM(CAST(ROUND(CAST(d * n1 AS DOUBLE) / n * 1e9) AS BIGINT))
                  AS BIGINT) AS e1_i9,
             CAST(SUM(CAST(ROUND(CAST(d AS DOUBLE) * n1 / n
                                 * (CAST(n2 AS DOUBLE) / n)
                                 * (CAST(n - d AS DOUBLE) / (n - 1))
                                 * 1e9) AS BIGINT)) AS BIGINT) AS v_i9
      FROM terms
    )
    SELECT tt.n_a, tt.n_b, s.o1 AS observed_a,
           ROUND(s.e1_i9::DOUBLE / 1e9, 6) AS expected_a,
           CASE WHEN s.v_i9 > 0 THEN
             ROUND(((s.o1::DOUBLE * 1e9 - s.e1_i9) / 1e9)
                   * ((s.o1::DOUBLE * 1e9 - s.e1_i9) / 1e9)
                   / (s.v_i9::DOUBLE / 1e9), 6)
           END AS logrank_chi2
    FROM summed s CROSS JOIN totals tt
    """,
)
def logrank_priority_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test: do {LOGRANK_G_A} and {LOGRANK_G_B}
    orders follow the SAME fulfillment-survival curve? The hypothesis
    test behind every pair of ``kaplan_meier_retention`` curves — at
    each completion day the urgent group's observed completions are
    compared with the hypergeometric expectation given the shared risk
    set, right-censoring handled exactly as the KM estimator's
    ({KM_CENSOR_DAYS}-day horizon rule). χ² = (O−E)²/V on 1 df.

    Determinism: risk sets and event counts are exact integers from
    per-group prefix sums over the DAY domain; each day-TYPE's E and V
    contributions round once to i9 through an identical factored double
    chain (every factor < 2^53, so the chain is engine-identical) and
    accumulate as INTEGERS; the statistic is one pinned chain over
    (O·1e9 − ΣE_i9) and ΣV_i9, rounded to 6; a zero-variance feed
    returns NULL under identical guards. Days with n < 2 at risk carry
    no information and are excluded identically.

    Scale shape: one per-order collapse of the fact table + a keyed
    orderkey equi-join for the group label; the day-domain windows are
    the documented calendar-bounded exception; the test is a scalar
    reduction."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin(LOGRANK_G_A, LOGRANK_G_B)
    )
    spans = li.groupBy("l_orderkey").agg(
        F.datediff(F.max("l_shipdate"), F.min("l_shipdate"))
        .cast("bigint")
        .alias("dur"),
        F.max("l_shipdate").alias("last_ship"),
    )
    horizon = li.agg(F.max("l_shipdate").alias("max_ship"))
    durs = (
        spans.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .crossJoin(F.broadcast(horizon))
        .select(
            (F.col("o_orderpriority") == LOGRANK_G_A).cast("int").alias("g"),
            "dur",
            (
                F.col("last_ship")
                > F.date_sub(F.col("max_ship"), KM_CENSOR_DAYS)
            ).alias("censored"),
        )
    )
    # the day-domain collapse is the single fact-join consumer; group
    # totals re-reduce IT (not the join), and the checkpoint keeps the
    # remaining three tiny lineages (totals, cums, output) from
    # replaying the spans ⋈ orders shuffle.
    daily = (
        durs.groupBy(F.col("dur").alias("t"))
        .agg(
            F.sum(((F.col("g") == 1) & ~F.col("censored")).cast("bigint")).alias("d1"),
            F.sum(((F.col("g") == 0) & ~F.col("censored")).cast("bigint")).alias("d2"),
            F.sum("g").cast("bigint").alias("l1"),
            F.sum(1 - F.col("g")).cast("bigint").alias("l2"),
        )
        .localCheckpoint()
    )
    totals = daily.agg(
        F.sum("l1").cast("bigint").alias("n_a"),
        F.sum("l2").cast("bigint").alias("n_b"),
    )
    w_before = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    cums = daily.select(
        "t",
        "d1",
        "d2",
        F.coalesce(F.sum("l1").over(w_before), F.lit(0)).alias("lb1"),
        F.coalesce(F.sum("l2").over(w_before), F.lit(0)).alias("lb2"),
    )
    n1 = F.col("n_a") - F.col("lb1")
    n2 = F.col("n_b") - F.col("lb2")
    d = F.col("d1") + F.col("d2")
    terms = (
        cums.crossJoin(F.broadcast(totals))
        .filter((d > 0) & (n1 + n2 >= 2))
        .select(
            "d1",
            d.alias("d"),
            n1.alias("n1"),
            n2.alias("n2"),
            (n1 + n2).alias("n"),
        )
    )
    e1_i9 = F.round(
        (F.col("d") * F.col("n1")).cast("double") / F.col("n") * F.lit(1e9)
    ).cast("bigint")
    v_i9 = F.round(
        F.col("d").cast("double")
        * F.col("n1")
        / F.col("n")
        * (F.col("n2").cast("double") / F.col("n"))
        * ((F.col("n") - F.col("d")).cast("double") / (F.col("n") - 1))
        * F.lit(1e9)
    ).cast("bigint")
    summed = terms.agg(
        F.sum("d1").cast("bigint").alias("o1"),
        F.sum(e1_i9).cast("bigint").alias("e1_i9"),
        F.sum(v_i9).cast("bigint").alias("v_i9"),
    )
    dev = (F.col("o1").cast("double") * F.lit(1e9) - F.col("e1_i9")) / F.lit(1e9)
    return summed.crossJoin(F.broadcast(totals)).select(
        "n_a",
        "n_b",
        F.col("o1").alias("observed_a"),
        F.round(F.col("e1_i9").cast("double") / F.lit(1e9), 6).alias("expected_a"),
        F.when(
            F.col("v_i9") > 0,
            F.round(
                dev * dev / (F.col("v_i9").cast("double") / F.lit(1e9)),
                6,
            ),
        ).alias("logrank_chi2"),
    )


DID_SPLIT_TS = "2024-01-16"


@query(
    "difference_in_differences",
    oracle=f"""
    WITH cells AS (
      SELECT ('0x' || substr(md5('did:' || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT % 2 AS treated,
             CASE WHEN ts < TIMESTAMP '{DID_SPLIT_TS}' THEN 0 ELSE 1 END AS post,
             CAST(ROUND(value * 1e2) AS BIGINT) AS v
      FROM events
    ), g AS (
      SELECT treated, post, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(v AS HUGEINT)) AS s1,
             SUM(CAST(v AS HUGEINT) * v) AS s2
      FROM cells GROUP BY treated, post
    ), wide AS (
      SELECT
        MAX(CASE WHEN treated = 1 AND post = 0 THEN n END) AS n_tp,
        MAX(CASE WHEN treated = 1 AND post = 0 THEN s1 END) AS s1_tp,
        MAX(CASE WHEN treated = 1 AND post = 0 THEN s2 END) AS s2_tp,
        MAX(CASE WHEN treated = 1 AND post = 1 THEN n END) AS n_tq,
        MAX(CASE WHEN treated = 1 AND post = 1 THEN s1 END) AS s1_tq,
        MAX(CASE WHEN treated = 1 AND post = 1 THEN s2 END) AS s2_tq,
        MAX(CASE WHEN treated = 0 AND post = 0 THEN n END) AS n_cp,
        MAX(CASE WHEN treated = 0 AND post = 0 THEN s1 END) AS s1_cp,
        MAX(CASE WHEN treated = 0 AND post = 0 THEN s2 END) AS s2_cp,
        MAX(CASE WHEN treated = 0 AND post = 1 THEN n END) AS n_cq,
        MAX(CASE WHEN treated = 0 AND post = 1 THEN s1 END) AS s1_cq,
        MAX(CASE WHEN treated = 0 AND post = 1 THEN s2 END) AS s2_cq
      FROM g
    ), ok AS (
      SELECT * FROM wide
      WHERE n_tp >= 2 AND n_tq >= 2 AND n_cp >= 2 AND n_cq >= 2
    ), est AS (
      SELECT n_tp, n_tq, n_cp, n_cq,
             (CAST(s1_tq AS DOUBLE) / n_tq - CAST(s1_tp AS DOUBLE) / n_tp)
             - (CAST(s1_cq AS DOUBLE) / n_cq - CAST(s1_cp AS DOUBLE) / n_cp) AS did_c,
             (CAST(s2_tp AS DOUBLE) - CAST(s1_tp AS DOUBLE) * s1_tp / n_tp)
               / (n_tp - 1) / n_tp
             + (CAST(s2_tq AS DOUBLE) - CAST(s1_tq AS DOUBLE) * s1_tq / n_tq)
               / (n_tq - 1) / n_tq
             + (CAST(s2_cp AS DOUBLE) - CAST(s1_cp AS DOUBLE) * s1_cp / n_cp)
               / (n_cp - 1) / n_cp
             + (CAST(s2_cq AS DOUBLE) - CAST(s1_cq AS DOUBLE) * s1_cq / n_cq)
               / (n_cq - 1) / n_cq AS var_c
      FROM ok
    )
    SELECT n_tp AS n_treated_pre, n_tq AS n_treated_post,
           n_cp AS n_control_pre, n_cq AS n_control_post,
           ROUND(did_c / 100, 6) AS did_estimate,
           CASE WHEN var_c > 0 THEN ROUND(sqrt(var_c) / 100, 6) END AS did_se,
           CASE WHEN var_c > 0 THEN ROUND(did_c / sqrt(var_c), 6) END AS z_score
    FROM est
    """,
)
def difference_in_differences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator on event value: users
    hash-split into treated/control arms (md5, the ``ab_test_uplift``
    assignment convention), periods split at {DID_SPLIT_TS}, and the
    causal readout is (post − pre) in treated MINUS (post − pre) in
    control — the design that removes both the arm-level baseline gap
    and the common time trend, which the plain post-period comparison
    (``ab_test_uplift``) and the pre-period covariate adjustment
    (``cuped_adjusted_uplift``) each only half-handle. On this
    untreated feed the estimate is an A/A null read; the query's job is
    the 2×2 moment algebra and the pooled SE.

    Determinism: the split is md5-exact; each of the four cells
    contributes three exact integer moments (n, Σv, Σv² in value cents,
    decimal(38,0)/HUGEINT); the estimate, its large-sample SE
    (√Σ s²_cell/n_cell), and z are ONE pinned chain over the 1-row
    pivot, rounded to 6. Any cell with n < 2 emits no row; a zero
    pooled variance returns NULL SE/z — identical guards.

    Scale shape: one map-side-combinable 4-cell moment aggregate over
    the raw scan (assignment and period are scan-side expressions —
    no joins at all); everything after runs on the 1-row pivot."""
    ev = load(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    cells = ev.select(
        (
            md5_int(F.concat(F.lit("did:"), F.col("user_id").cast("string"))) % 2
        ).alias("treated"),
        F.when(F.col("ts") < DID_SPLIT_TS, 0).otherwise(1).alias("post"),
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    g = cells.groupBy("treated", "post").agg(
        F.count("*").alias("n"),
        F.sum(F.col("v").cast(dec)).alias("s1"),
        F.sum(F.col("v").cast(dec) * F.col("v")).alias("s2"),
    )
    def cell(t, p, c):
        return F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p), F.col(c))
        )
    wide = g.agg(
        *[
            cell(t, p, c).alias(f"{c}_{tag}")
            for (t, p, tag) in ((1, 0, "tp"), (1, 1, "tq"), (0, 0, "cp"), (0, 1, "cq"))
            for c in ("n", "s1", "s2")
        ]
    ).filter(
        (F.col("n_tp") >= 2)
        & (F.col("n_tq") >= 2)
        & (F.col("n_cp") >= 2)
        & (F.col("n_cq") >= 2)
    )
    def mean(tag):
        return F.col(f"s1_{tag}").cast("double") / F.col(f"n_{tag}")
    def var_of_mean(tag):
        n = F.col(f"n_{tag}")
        s1 = F.col(f"s1_{tag}")
        return (
            (F.col(f"s2_{tag}").cast("double") - s1.cast("double") * s1 / n)
            / (n - 1)
            / n
        )
    did_c = (mean("tq") - mean("tp")) - (mean("cq") - mean("cp"))
    var_c = var_of_mean("tp") + var_of_mean("tq") + var_of_mean("cp") + var_of_mean("cq")
    return wide.select(
        F.col("n_tp").alias("n_treated_pre"),
        F.col("n_tq").alias("n_treated_post"),
        F.col("n_cp").alias("n_control_pre"),
        F.col("n_cq").alias("n_control_post"),
        F.round(did_c / 100, 6).alias("did_estimate"),
        F.when(var_c > 0, F.round(F.sqrt(var_c) / 100, 6)).alias("did_se"),
        F.when(var_c > 0, F.round(did_c / F.sqrt(var_c), 6)).alias("z_score"),
    )


@query(
    "nelson_aalen_hazard",
    oracle=f"""
    WITH spans AS (
      SELECT l_orderkey,
             CAST(date_diff('day', MIN(l_shipdate), MAX(l_shipdate)) AS BIGINT) AS dur,
             MAX(l_shipdate) AS last_ship
      FROM lineitem GROUP BY l_orderkey
    ), horizon AS (
      SELECT MAX(l_shipdate) AS max_ship FROM lineitem
    ), durs AS (
      SELECT s.dur,
             (s.last_ship > h.max_ship - INTERVAL {KM_CENSOR_DAYS} DAY) AS censored
      FROM spans s CROSS JOIN horizon h
    ), nn AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM durs
    ), daily AS (
      SELECT dur AS t,
             CAST(SUM(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS leaving
      FROM durs GROUP BY dur
    ), ordered AS (
      SELECT t, d, leaving,
             CAST(COALESCE(SUM(leaving) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS left_before
      FROM daily
    ), factored AS (
      SELECT t, d, nn.n_total - left_before AS n_at_risk,
             CAST(ROUND(1e6 * d / (nn.n_total - left_before)) AS BIGINT) AS h_i6,
             CAST(ROUND(1e9 * d / ((nn.n_total - left_before)::DOUBLE
                                   * (nn.n_total - left_before))) AS BIGINT) AS v_i9
      FROM ordered CROSS JOIN nn
    )
    SELECT t AS day, n_at_risk, d AS n_completed,
           (CAST(SUM(h_i6) OVER (ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT))::DOUBLE
             / 1e6 AS cum_hazard,
           (CAST(SUM(v_i9) OVER (ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT))::DOUBLE
             / 1e9 AS hazard_var
    FROM factored
    WHERE d > 0
    ORDER BY day
    """,
)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard of order fulfillment — the
    integrating companion of ``kaplan_meier_retention`` over the SAME
    censored spans (same lifetime, same {KM_CENSOR_DAYS}-day censor
    rule): H(t) = sum d_i/n_i accumulates the instantaneous completion
    risk, with the Aalen variance sum d_i/n_i^2. Preferred over
    -ln(KM) for small risk sets, and the quantity hazard-ratio eyeballs
    read directly (a straight H(t) is constant hazard; bends are
    regime changes in fulfillment speed).

    Determinism: day counts and risk sets are exact integers via the
    shared one-prefix-sum day-domain shape; each day's hazard increment
    rounds ONCE to integer millionths (variance to 1e-9ths) and the
    cumulative curves are INTEGER prefix sums — no float accumulation
    across days (the kaplan_meier log-survival contract).

    Scale shape: identical to kaplan_meier_retention — per-order span
    collapse, day-domain aggregation, calendar-bounded windows."""
    li = load(spark, sf_dir, "lineitem")
    spans = li.groupBy("l_orderkey").agg(
        F.datediff(F.max("l_shipdate"), F.min("l_shipdate"))
        .cast("bigint")
        .alias("dur"),
        F.max("l_shipdate").alias("last_ship"),
    )
    horizon = li.agg(F.max("l_shipdate").alias("max_ship"))
    durs = spans.crossJoin(F.broadcast(horizon)).select(
        "dur",
        (
            F.col("last_ship") > F.date_sub(F.col("max_ship"), KM_CENSOR_DAYS)
        ).alias("censored"),
    )
    nn = durs.agg(F.count("*").alias("n_total"))
    daily = durs.groupBy(F.col("dur").alias("t")).agg(
        F.sum((~F.col("censored")).cast("bigint")).alias("d"),
        F.count("*").alias("leaving"),
    )
    w_before = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_incl = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    # bounded value domain (distinct lifetime days) — the tolerated class
    ordered = daily.select(
        "t",
        "d",
        F.coalesce(F.sum("leaving").over(w_before), F.lit(0))
        .cast("bigint")
        .alias("left_before"),
    )
    risk = F.col("n_total") - F.col("left_before")
    factored = ordered.crossJoin(F.broadcast(nn)).select(
        "t",
        "d",
        risk.alias("n_at_risk"),
        F.round(F.lit(1e6) * F.col("d") / risk).cast("bigint").alias("h_i6"),
        F.round(F.lit(1e9) * F.col("d") / (risk.cast("double") * risk))
        .cast("bigint")
        .alias("v_i9"),
    )
    return (
        factored.select(
            F.col("t").alias("day"),
            "n_at_risk",
            F.col("d").alias("n_completed"),
            (F.sum("h_i6").over(w_incl.orderBy("t")).cast("bigint").cast("double") / 1e6).alias(
                "cum_hazard"
            ),
            (F.sum("v_i9").over(w_incl.orderBy("t")).cast("bigint").cast("double") / 1e9).alias(
                "hazard_var"
            ),
            F.col("d").alias("_d"),
        )
        .filter(F.col("_d") > 0)
        .drop("_d")
        .orderBy("day")
    )


# Power-analysis literals, shared verbatim by both engines and the scalar
# test: z_{0.975} + z_{0.80} frozen to ONE double literal (no engine-side
# inverse-CDF), and the absolute-uplift target the design is sized for.
AB_Z_SUM = "2.8015852181129683"  # 1.959963984540054 + 0.8416212335729143
AB_TARGET_MDE = "0.01"


@query(
    "ab_power_mde",
    oracle=f"""
    WITH units AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT % 2 AS variant,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id, h
    ), arms AS (
      SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(converted) AS BIGINT) AS conv
      FROM units GROUP BY variant
    ), wide AS (
      SELECT
        MAX(CASE WHEN variant = 0 THEN n END) AS n_a,
        MAX(CASE WHEN variant = 0 THEN conv END) AS conv_a,
        MAX(CASE WHEN variant = 1 THEN n END) AS n_b,
        MAX(CASE WHEN variant = 1 THEN conv END) AS conv_b
      FROM arms
    ), pooled AS (
      SELECT n_a, conv_a, n_b, conv_b,
             (conv_a + conv_b)::DOUBLE / (n_a + n_b) AS pooled_p
      FROM wide
    ), se AS (
      SELECT *,
             sqrt(pooled_p * (1 - pooled_p) * (1.0 / n_a + 1.0 / n_b))
               AS se_pooled
      FROM pooled
    )
    SELECT n_a, conv_a, n_b, conv_b, pooled_p, se_pooled,
           {AB_Z_SUM} * se_pooled AS mde_abs,
           CASE WHEN pooled_p > 0
                THEN {AB_Z_SUM} * se_pooled / pooled_p END AS mde_rel,
           CAST(ceil(2.0 * pooled_p * (1 - pooled_p)
                     * ({AB_Z_SUM} * {AB_Z_SUM})
                     / ({AB_TARGET_MDE} * {AB_TARGET_MDE})) AS BIGINT)
             AS n_per_arm_required,
           {AB_Z_SUM} * se_pooled <= {AB_TARGET_MDE} AS powered_for_target
    FROM se
    """,
)
def ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment-DESIGN readout for the ``ab_test_uplift`` split — the
    question a team asks BEFORE reading the uplift: at the traffic the
    split actually collected (same md5 assignment, same active
    user-hour exposure unit), what absolute/relative uplift is
    detectable at alpha=0.05 two-sided with 80% power, and how many
    units per arm would the {AB_TARGET_MDE}-absolute target need?

    mde_abs = (z_0.975 + z_0.80) * sqrt(p(1-p)(1/n_a + 1/n_b)) with the
    z-sum frozen to the shared literal {AB_Z_SUM} (no engine-side
    inverse normal CDF anywhere); n_per_arm_required =
    ceil(2 p (1-p) z_sum^2 / target^2), the equal-arm normal
    approximation; powered_for_target gates mde_abs against the target.

    Determinism: counts integer; pooled_p / se / mde are ONE pinned
    chain of double ops (sqrt is the only non-arithmetic primitive,
    already relied on cross-engine by the cosine and z-test families);
    ceil lands on an exact integer boundary only at measure-zero
    inputs; an empty or one-armed feed propagates NULLs through the
    identical algebra (MAX-over-empty / missing-arm semantics), and
    the mde_rel division is CASE-guarded for pooled_p = 0 (ANSI-safe).

    Scale shape: identical to ab_test_uplift — one map-side-combinable
    (user, hour) collapse, a 2-row arms aggregate, 1-row algebra."""
    ev = load(spark, sf_dir, "events")
    units = ev.groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("converted")
    ).select(
        "converted",
        (
            md5_int(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))) % 2
        ).alias("variant"),
    )
    arms = units.groupBy("variant").agg(
        F.count("*").alias("n"), F.sum("converted").alias("conv")
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == 0, F.col("conv"))).alias("conv_a"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == 1, F.col("conv"))).alias("conv_b"),
    )
    zs = float(AB_Z_SUM)
    tgt = float(AB_TARGET_MDE)
    pooled_p = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    with_p = wide.withColumn("pooled_p", pooled_p)
    se = F.sqrt(
        F.col("pooled_p")
        * (1 - F.col("pooled_p"))
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    with_se = with_p.withColumn("se_pooled", se)
    mde_abs = F.lit(zs) * F.col("se_pooled")
    n_req = F.ceil(
        F.lit(2.0)
        * F.col("pooled_p")
        * (1 - F.col("pooled_p"))
        * (F.lit(zs) * F.lit(zs))
        / (F.lit(tgt) * F.lit(tgt))
    ).cast("bigint")
    return with_se.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        "pooled_p",
        "se_pooled",
        mde_abs.alias("mde_abs"),
        F.when(F.col("pooled_p") > 0, mde_abs / F.col("pooled_p")).alias("mde_rel"),
        n_req.alias("n_per_arm_required"),
        (mde_abs <= F.lit(tgt)).alias("powered_for_target"),
    )
